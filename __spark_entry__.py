"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2, each exercising the corresponding taco_toolbox_spark library
operator on the driver-generated TPC-H-ish tables; ``oracle_sql()`` gives
the DuckDB-equivalent SQL. Column names/aliases match exactly between both
sides; float-bearing aggregates are computed through exact decimal sums (or
integer-valued doubles) so the order-insensitive value hash is stable.

Every query has an oracle entry. Engine-specific hash pipelines
(minhash/simhash/LSH) are oracled in md5 portability mode via full DuckDB
pipeline replicas (identical constants inlined on both sides); the Morton
z-order oracle replicates the magic-number bit spread in BIGINT arithmetic.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENT_VOCAB = ["click", "purchase", "signup", "view"]  # 'error' is out-of-vocab


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _ts(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """_t + scale.spread_for_compute: for queries whose SCAN-stage work is
    heavy per row (text feature extraction, regex batteries, dim-length
    folds, decimal partial aggregation), a single-row-group parquet file
    scans as ONE split and serializes that work behind one core. The
    spread is the library's documented rule (a plan no-op at warehouse
    scale where inputs carry thousands of splits) — used only for queries
    whose results are provably partitioning-independent (per-row
    projections, exact integer/decimal aggregates, total-order top-k)."""
    from taco_toolbox_spark.scale import spread_for_compute

    return spread_for_compute(_t(spark, sf_dir, name))


def _stage_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    suffix: str,
    build: Callable[[DataFrame], DataFrame] | None = None,
) -> str:
    """Stage ``table`` under /tmp/spark_graft_stream/<suffix>_<tag> for the
    STREAMING queries (one shared copy per sf_dir), restaging whenever the
    SOURCE is newer than the staged copy — a cached stale copy would
    silently diverge from the oracle's fresh read of the source. ``build``
    transforms the frame before writing (filtered/derived stream corpora).
    The tag (a hash of ``sf_dir``) keeps one staged copy per scale factor."""
    import hashlib
    import os

    src = os.path.join(sf_dir, f"{table}.parquet")
    src_mtime = max(
        (os.path.getmtime(os.path.join(r, f)) for r, _, fs in os.walk(src)
         for f in fs),
        default=os.path.getmtime(src),
    ) if os.path.isdir(src) else os.path.getmtime(src)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    staged = f"/tmp/spark_graft_stream/{suffix}_{tag}"
    done = os.path.join(staged, "_SUCCESS")
    if not os.path.exists(done) or os.path.getmtime(done) < src_mtime:
        df = _t(spark, sf_dir, table)
        if build is not None:
            df = build(df)
        df.write.mode("overwrite").parquet(staged)
    return staged


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the validation-engine check battery applied to the events
    table (uniqueness / vocabulary / monotonicity), returning violation
    counts per check — the transcript verdict pattern on sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    ev = _t(spark, sf_dir, "events")
    uniq = (
        ev.groupBy("user_id", "event_type")
        .count()
        .filter(F.col("count") > 1)
        .select(F.lit("unique_user_type").alias("check_id"))
    )
    vocab = ev.filter(~F.col("event_type").isin(EVENT_VOCAB)).select(
        F.lit("event_type_vocab").alias("check_id")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    mono = (
        ev.withColumn("pv", F.lag("value").over(w))
        .filter(F.col("pv") > F.col("value"))
        .select(F.lit("value_monotone").alias("check_id"))
    )
    return (
        uniq.unionAll(vocab)
        .unionAll(mono)
        .groupBy("check_id")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .orderBy("check_id")
    )


# ---------------------------------------------------------------------------
# queries — each callable: (spark, sf_dir) -> DataFrame
# ---------------------------------------------------------------------------


def q_v1_uniqueness(spark, sf_dir):
    """V1 uniqueness check (dup-key groups with counts)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )


def q_v5_vocab(spark, sf_dir):
    """V5 vocabulary conformance via left_anti against the allowed set."""
    from taco_toolbox_spark.operators.distribution import out_of_vocab

    return out_of_vocab(_t(spark, sf_dir, "events"), "event_type", EVENT_VOCAB)


def q_v9_monotone(spark, sf_dir):
    """V9/W4 per-group monotonicity via lag window: value regressions."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_value", F.lag("value").over(w))
        .filter(F.col("prev_value") > F.col("value"))
        .select("event_id", "user_id", "prev_value", "value")
    )


def q_v6_contiguity(spark, sf_dir):
    """V6 PIT-analog contiguity: l_linenumber must be exactly 1..n."""
    li = _t(spark, sf_dir, "lineitem")
    g = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("l_linenumber").alias("nd"),
        F.min("l_linenumber").alias("mn"),
        F.max("l_linenumber").alias("mx"),
    )
    return g.filter(
        ~((F.col("mn") == 1) & (F.col("mx") == F.col("n")) & (F.col("nd") == F.col("n")))
    )


def q_v12_refint(spark, sf_dir):
    """V12 referential integrity: orders with no matching customer."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "left_anti").select(
        "o_orderkey", "o_custkey"
    )


def q_v10_range(spark, sf_dir):
    """V10 range sanity: events outside [0, 100]."""
    ev = _t(spark, sf_dir, "events")
    return ev.filter(~((F.col("value") >= 0) & (F.col("value") <= 100))).select(
        "event_id", "value"
    )


def q_stats_profile(spark, sf_dir):
    """M2 single-pass per-column stats (numeric columns of orders),
    long format with exact distinct counts (HLL variant in stats.py)."""
    o = _t(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    agg = o.agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.count(c).alias(f"{c}_nn") for c in cols],
        *[F.countDistinct(c).alias(f"{c}_nd") for c in cols],
        *[F.min(F.col(c).cast("double")).alias(f"{c}_min") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"{c}_max") for c in cols],
    )
    structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("_n").alias("n_rows"),
            F.col(f"{c}_nn").alias("n_nonnull"),
            F.col(f"{c}_nd").alias("n_distinct"),
            F.col(f"{c}_min").alias("min_val"),
            F.col(f"{c}_max").alias("max_val"),
        )
        for c in cols
    ]
    return agg.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def q_stats_quantiles(spark, sf_dir):
    """A8 completion: p25/p50/p75/p95 in the single-pass column profile
    (mirrors the reference's per-band percentiles,
    geotiff_stats.py:251-264). Exact quantiles here so DuckDB's
    quantile_cont is a value-exact oracle; the library default is the
    mergeable percentile_approx sketch for corpus scale."""
    from taco_toolbox_spark.stats import global_stats

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    s = global_stats(o, exact_quantiles=True)
    return s.select("column", "p25", "p50", "p75", "p95")


def q_j4_position_pattern(spark, sf_dir):
    """J4/PIT per-position pattern: the modal (returnflag, linestatus)
    tuple at each lineitem position within its order — the reference's
    per-position (id, type) schema extraction re-expressed as a
    count + deterministic argmax (_metadata.py:413-423, :452-509)."""
    from taco_toolbox_spark.operators.hierarchy import per_position_pattern

    li = _t(spark, sf_dir, "lineitem")
    return per_position_pattern(
        li, "l_linenumber", ["l_returnflag", "l_linestatus"]
    )


def q_extent_by_type(spark, sf_dir):
    """A5/A6 extents: temporal min/max + count per event_type."""
    from taco_toolbox_spark.operators.extents import temporal_extent

    ev = _t(spark, sf_dir, "events")
    ext = temporal_extent(ev, ["ts"], group_cols=["event_type"])
    n = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return ext.join(n, "event_type")


def q_a9_distribution(spark, sf_dir):
    """A9 categorical distribution with renormalized probabilities."""
    from taco_toolbox_spark.operators.distribution import categorical_distribution

    return categorical_distribution(_t(spark, sf_dir, "events"), "event_type")


def q_a4_top1(spark, sf_dir):
    """A4 arg-max group: event_type with the most events."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "event_type")
        .limit(1)
    )


def q_q1_pricing(spark, sf_dir):
    """A2/A8 grouped aggregation (TPC-H Q1 shape) with exact decimal sums."""
    li = _ts(spark, sf_dir, "lineitem")
    # exact decimal arithmetic: cast the raw doubles once (deterministic,
    # tie-free), then multiply/sum in decimal so engines agree bit-for-bit
    disc_price = F.col("l_extendedprice").cast("decimal(18,6)") * (
        F.lit(1).cast("decimal(8,2)") - F.col("l_discount").cast("decimal(8,2)")
    )
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_j3_rollup(spark, sf_dir):
    """J3 parent-child join + rollup: revenue per order priority."""
    o = _ts(spark, sf_dir, "orders")
    li = _ts(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,6)") * (
        F.lit(1).cast("decimal(8,2)") - F.col("l_discount").cast("decimal(8,2)")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_j1_broadcast_enrich(spark, sf_dir):
    """J1 broadcast dimension enrichment: customers per region."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_acctbal"),
        )
    )


def q_o4_topk(spark, sf_dir):
    """O3/O4 top-k with deterministic tie-break: top 10 customers by
    order count."""
    from taco_toolbox_spark.operators.topk import global_topk

    o = _t(spark, sf_dir, "orders")
    agg = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    return global_topk(agg, [F.col("n_orders").desc()], 10, tiebreak=["o_custkey"])


def q_w1_row_position(spark, sf_dir):
    """W1 0-based row position per group (current_id analog)."""
    from taco_toolbox_spark.operators.hierarchy import add_row_position

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    return add_row_position(
        ev, ["ts", "event_id"], partition_cols=["user_id"], out_col="pos"
    ).select("event_id", "user_id", "pos")


def q_w1_row_position_global(spark, sf_dir):
    """W1 GLOBAL 0-based row position: the distributed prefix-count path
    (per-bucket row_number over an order-monotone coarse bucket + broadcast
    offset table — no single-task global window). The oracle is the
    single-walk definition: row_number() OVER (ORDER BY event_id) - 1."""
    from taco_toolbox_spark.operators.hierarchy import add_row_position

    ev = _t(spark, sf_dir, "events")
    return add_row_position(ev, ["event_id"], out_col="pos").select(
        "event_id", "pos"
    )


def q_w3_greedy_pack(spark, sf_dir):
    """W3/S8 greedy bin packing with the reference's exact semantics (open
    a new bin when size OR count would overflow; create.py:454-478),
    distributed per group. The oracle replays the identical sequential walk
    as a DuckDB recursive CTE over per-user row numbers."""
    from taco_toolbox_spark.operators.partitioning import greedy_pack_bins

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", (F.col("event_id") % 97 + 10).alias("sz")
    )
    return greedy_pack_bins(
        ev,
        "sz",
        ["event_id"],
        max_bin_size=200,
        max_bin_count=4,
        group_cols=["user_id"],
    ).select("user_id", "event_id", "bin_id")


_W1_GLOBAL_ORACLE = """
    SELECT event_id,
           row_number() OVER (ORDER BY event_id) - 1 AS pos
    FROM events
"""

_W3_GREEDY_PACK_ORACLE = """
    WITH RECURSIVE ev AS (
      SELECT user_id, event_id, event_id % 97 + 10 AS sz,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      FROM events
    ),
    walk(user_id, rn, event_id, bin_id, cur_size, cur_count) AS (
      SELECT user_id, rn, event_id, 0::BIGINT, sz, 1
      FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn, e.event_id,
             CASE WHEN w.cur_count >= 4 OR w.cur_size + e.sz > 200
                  THEN w.bin_id + 1 ELSE w.bin_id END,
             CASE WHEN w.cur_count >= 4 OR w.cur_size + e.sz > 200
                  THEN e.sz ELSE w.cur_size + e.sz END,
             CASE WHEN w.cur_count >= 4 OR w.cur_size + e.sz > 200
                  THEN 1 ELSE w.cur_count + 1 END
      FROM ev e JOIN walk w ON e.user_id = w.user_id AND e.rn = w.rn + 1
    )
    SELECT user_id, event_id, bin_id FROM walk
"""


def q_w3_size_bins(spark, sf_dir):
    """W3/S8 running-total size bin packing (greedy ≤max-size packing)."""
    from taco_toolbox_spark.operators.partitioning import assign_size_bins

    d = _t(spark, sf_dir, "documents")
    return assign_size_bins(d, "n_chars", 10_000, ["doc_id"]).select(
        "doc_id", "bin_id"
    )


def q_dedup_exact(spark, sf_dir):
    """Exact dedup groups (hash-groupBy over normalized text)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("text")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias("ids"),
        )
        .filter(F.col("n_dups") > 1)
        .select("n_dups", "ids")
    )


def q_dedup_ngram_jaccard(spark, sf_dir):
    """n-gram Jaccard near-dup pairs (shingle join, no cross join)."""
    from taco_toolbox_spark.dedup.ngram import jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    return jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.2)


def q_dedup_ngram_prefix(spark, sf_dir):
    """EXACT n-gram Jaccard pairs via prefix filtering (AllPairs/PPJoin
    family: rarest-first prefixes + length + positional filters +
    candidate-restricted exact verification — dedup/ngram.py:
    jaccard_pairs_prefix). NO frequency cap: unlike dedup_ngram_jaccard
    (the capped brute anchor), this is exact against the uncapped
    definition while hot shingles stay out of candidate generation. The
    oracle is DuckDB's direct capless shingle join — a fully independent
    realization (no prefix machinery), so candidate completeness of the
    three filters is checked end-to-end on real data."""
    from taco_toolbox_spark.dedup.ngram import jaccard_pairs_prefix

    d = _t(spark, sf_dir, "documents")
    return jaccard_pairs_prefix(d, "text", "doc_id", n=3, threshold=0.5)


def q_d1_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appendix C / Pile style): corpus
    docs sharing >= 3 distinct word 3-grams with an eval set (here: every
    17th document stands in as the benchmark; self-pairs excluded so only
    genuine cross-document contamination — planted duplicates/near-dups of
    benchmark items — is flagged). Benchmark shingles are BROADCAST, so
    the corpus side is one narrow scan -> explode -> broadcast join ->
    count: linear in corpus size, the 100-TB shape
    (dedup/decontaminate.py)."""
    from taco_toolbox_spark.dedup.decontaminate import contamination_matches

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    pairs = contamination_matches(d, bench, n=3, min_overlap=3).filter(
        F.col("doc_id") != F.col("bench_id")  # benchmark ⊂ corpus here: drop self-matches
    )
    return pairs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bench_hits"),
        F.max("n_shared").alias("max_shared"),
    )


def q_d8_sem_decontaminate(spark, sf_dir):
    """SEMANTIC benchmark decontamination — the n-gram family's embedding
    sibling (d1 catches verbatim overlap; paraphrased or re-templated
    benchmark items only surface in embedding space): corpus vectors
    within cosine 0.35 of any benchmark vector (every 17th embedding
    stands in as the benchmark; threshold sized so sf0.01's random
    gaussians yield signal; self-pairs excluded). Benchmark vectors are
    BROADCAST with precomputed norms — ONE corpus scan, per-row norm
    computed once, no corpus shuffle before the per-doc aggregation
    (dedup/decontaminate.py:semantic_contamination_matches). Oracle =
    the same round-4 cosine in SQL."""
    from taco_toolbox_spark.dedup.decontaminate import (
        semantic_contamination_matches,
    )

    e = _t(spark, sf_dir, "embeddings")
    bench = e.filter(F.col("vec_id") % 17 == 0).select(
        F.col("vec_id").alias("bench_id"), "embedding"
    )
    m = semantic_contamination_matches(
        e, bench, threshold=0.35, id_col="vec_id"
    ).filter(F.col("vec_id") != F.col("bench_id"))  # benchmark ⊂ corpus here
    return m.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_bench_hits"),
        F.max("cos").alias("max_cos"),
    )


def q_dedup_substring_run(spark, sf_dir):
    """Shared-verbatim-substring pairs (Lee et al. 2022 decision rule in
    relational form — dedup/substring.py): pairs sharing a run of >= 5
    consecutive tokens, found as gaps-and-islands over POSITIONAL 3-gram
    shingles (island id = pos - row_number over the (pair, diagonal)
    window). Complements Jaccard: catches one verbatim paragraph inside
    two otherwise-different documents (tiny set overlap, long run). The
    oracle replays the identical capped join + island computation in
    DuckDB — pure integer arithmetic, exact."""
    from taco_toolbox_spark.dedup.substring import substring_run_pairs

    d = _t(spark, sf_dir, "documents")
    return substring_run_pairs(
        d, "text", "doc_id", n=3, min_tokens=5, max_shingle_freq=100
    )


def q_dedup_common_spans(spark, sf_dir):
    """Segment-level boilerplate removal (dedup/lines.py): the line-dedup
    stage of web-corpus curation (repeated headers/footers/canned notices)
    generalized to newline-free text — a segment is an aligned 6-word
    block, boilerplate when its exact text occurs in >= 2 distinct
    documents, and cleaned text splices the flagged blocks out preserving
    survivor order. Segmentation is a higher-order-function expression
    over the split array (no word-level explode/regroup shuffle); the
    removal map carries ONLY (doc_id, removed-block-indexes) for affected
    docs — full text never crosses a second shuffle. The oracle replays
    the identical blocking + frequency + splice in DuckDB SQL."""
    from taco_toolbox_spark.dedup.lines import remove_common_segments

    d = _t(spark, sf_dir, "documents")
    out = remove_common_segments(d, min_docs=2, block_words=6)
    return (
        out.filter(F.col("n_removed") > 0)
        .select("doc_id", "n_removed", "text_clean")
    )


def q_text_winnow(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer et al. 2003, the MOSS
    algorithm — dedup/winnow.py): each document's selected (position,
    hash) set, where every window of w=4 consecutive word-3-gram hashes
    contributes its minimum (leftmost tie-break). Any shared run of >=
    w+k-1 words between two documents is guaranteed to collide on a
    selected fingerprint, at ~2/(w+1) the storage of the full shingle
    set — the bounded-state screen a 100-TB pipeline persists per doc.
    Entirely higher-order-function expressions (one projection, no
    word-level shuffle); the hash is the repo's engine-portable md5
    prefix, so DuckDB replays selection bit-for-bit."""
    from taco_toolbox_spark.dedup.winnow import winnow_fingerprints

    d = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(d, "text", "doc_id", k=3, w=4, hash_fn="md5")


def q_dedup_winnow_pairs(spark, sf_dir):
    """Candidate near-dup pairs by shared winnowing fingerprints
    (dedup/winnow.py): distinct selected hashes per doc, boilerplate cap
    (hash in > 100 docs dropped), equi-join on the hash, pairs with >= 2
    shared fingerprints. The fingerprint-set join replaces a full shingle
    join at ~40% the state with the same run-detection guarantee. md5
    portability mode (the oracle family); the library default is
    xxhash64, benched separately as dedup_winnow_default."""
    from taco_toolbox_spark.dedup.winnow import winnow_overlap_pairs

    d = _t(spark, sf_dir, "documents")
    return winnow_overlap_pairs(
        d, "text", "doc_id", k=3, w=4, min_shared=2, max_hash_freq=100,
        hash_fn="md5",
    )


def q_dedup_winnow_default(spark, sf_dir):
    """Bench-only twin of q_dedup_winnow_pairs on the LIBRARY-DEFAULT
    xxhash64 gram-hash family (not registered in queries(): xxhash64
    exists in no other engine, so there is no honest oracle —
    correctness of the shared selection/join pipeline is carried by the
    md5-mode oracle plus pytest parity). Benched separately so the
    headline suite reports the default fast path and the portable mode
    without conflating them (same discipline as dedup_minhash_default,
    VERDICT r3)."""
    from taco_toolbox_spark.dedup.winnow import winnow_overlap_pairs

    d = _t(spark, sf_dir, "documents")
    return winnow_overlap_pairs(
        d, "text", "doc_id", k=3, w=4, min_shared=2, max_hash_freq=100
    )


def q_i1_incremental_dedup(spark, sf_dir):
    """Incremental corpus-update dedup (dedup/incremental.py): docs with
    doc_id % 3 == 0 arrive as the NEW batch against the rest as the
    EXISTING corpus; each new doc gets a verdict — exact_dup (normalized
    md5 matches existing or an earlier batch doc), near_dup (3-gram
    Jaccard >= 0.3 vs some existing doc), else keep. The existing corpus
    is touched only through key joins (fingerprint semi-join + shingle
    join), never rescanned quadratically — the corpus-append shape at
    100 TB."""
    from taco_toolbox_spark.dedup.incremental import incremental_dedup_verdicts

    d = _t(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") % 3 == 0)
    existing = d.filter(F.col("doc_id") % 3 != 0)
    return incremental_dedup_verdicts(
        new, existing, "text", "doc_id", n=3, threshold=0.3, portable_key=True
    )


def q_text_distinctive_terms(spark, sf_dir):
    """Top-3 distinctive terms per document (operators/terms.py): TF-IDF
    preference structure with the oracle-exact integer score
    (tf * 1e6) DIV df — monotone in tf, anti-monotone in document
    frequency, pure BIGINT so DuckDB reproduces it bit-for-bit. Two hash
    aggs (doc-term, term) + term-keyed join + one per-doc window; hot
    terms have high df hence LOW scores, so skew and relevance
    anti-correlate by construction."""
    from taco_toolbox_spark.operators.terms import distinctive_terms

    d = _t(spark, sf_dir, "documents")
    return distinctive_terms(d, "text", "doc_id", k=3)


def q_dedup_minhash(spark, sf_dir):
    """MinHash+LSH near-dups in md5 hash mode: the oracle replicates the
    ENTIRE pipeline (2-universal permutations mod 2^31-1 over the two
    32-bit md5 halves — one md5 per shingle, 8x4 banding, bucket cap,
    candidate-restricted exact-Jaccard verify) in DuckDB SQL, so recall and
    precision of the banding itself are independently recomputed — no
    corpus-dependent "banding always collides" assumption. md5 mode costs
    ONE md5 per shingle (universal-hash permutations on its halves), so
    the portable pipeline benches within noise of the xxhash64 fast
    path."""
    from taco_toolbox_spark.dedup.minhash import minhash_near_duplicates

    d = _t(spark, sf_dir, "documents")
    return minhash_near_duplicates(
        d, "text", "doc_id", n=3, threshold=0.2, hash_fn="md5"
    )


def q_dedup_minhash_default(spark, sf_dir):
    """Bench-only twin of q_dedup_minhash on the LIBRARY-DEFAULT xxhash64
    hash family (not registered in queries(): xxhash64 exists in no other
    engine, so there is no honest oracle — correctness of the shared
    banding/verify pipeline is carried by the md5-mode pipeline-replica
    oracle plus pytest). Benched separately so the headline suite reports
    the default fast path and the portable mode without conflating them
    (VERDICT r3)."""
    from taco_toolbox_spark.dedup.minhash import minhash_near_duplicates

    d = _t(spark, sf_dir, "documents")
    return minhash_near_duplicates(d, "text", "doc_id", n=3, threshold=0.2)


def q_dedup_simhash(spark, sf_dir):
    """SimHash near-dups via hamming-chunk blocking, md5 hash mode: the
    oracle recomputes token hashes (first 64 md5 bits), per-bit sign sums,
    16-bit-chunk blocking, bucket cap, and hamming verify in DuckDB SQL."""
    from taco_toolbox_spark.dedup.simhash import simhash_near_duplicates

    d = _t(spark, sf_dir, "documents")
    return simhash_near_duplicates(
        d, "text", "doc_id", max_hamming=3, hash_fn="md5"
    )


def q_sim_topk(spark, sf_dir):
    """Brute-force cosine top-k vs the vec_id=0 embedding (JVM-side dot)."""
    from taco_toolbox_spark.similarity.ann import brute_force_topk

    e = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    return brute_force_topk(e.filter(F.col("vec_id") != 0), qv, k=10)


def q_sim_lsh_topk(spark, sf_dir):
    """LSH-bucketed approximate top-k. The oracle is NOT brute force (an
    honest LSH prunes near-orthogonal 'neighbors') — it is the SAME banded
    pipeline re-implemented in DuckDB SQL with the identical seeded plane
    matrix, so signature computation, band collision, and re-rank are all
    independently checked."""
    from taco_toolbox_spark.similarity.ann import lsh_topk

    e = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    return lsh_topk(e.filter(F.col("vec_id") != 0), qv, k=10)


def q_sim_ivf_topk(spark, sf_dir):
    """IVF-partitioned approximate top-k (coarse cells + n_probe nearest
    cells + exact re-rank within them — at scale the cell is a write-time
    partition column and the probe filter is partition pruning). The
    oracle replays the SAME pipeline in DuckDB: identical centroid
    literals, argmax cell assignment with the dot-DESC/cid-DESC tie rule,
    probe selection, candidate-restricted cosine re-rank."""
    from taco_toolbox_spark.similarity.ann import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    return ivf_topk(e.filter(F.col("vec_id") != 0), qv, k=10)


def q_sim_near_dup(spark, sf_dir):
    """OR-amplified LSH near-duplicate pairs over the embedding column,
    exact-cosine verified; threshold 0.4 so sf0.01's random gaussians yield
    a nonempty result. Oracle = pipeline replica in SQL."""
    from taco_toolbox_spark.similarity.ann import embedding_near_duplicates

    e = _t(spark, sf_dir, "embeddings")
    return embedding_near_duplicates(e, threshold=0.4)


def q_sim_kmeans(spark, sf_dir):
    """Seeded k-means (k=8, 2 Lloyd rounds) over the embedding table with
    the engine-portable determinism contract: smallest-id init, sequential
    float64 distance folds, FIXED-POINT centroid means (1e-9-scaled BIGINT
    sums — exact, order-independent, so the result is identical across
    partition counts, reruns, and engines). The oracle unrolls both Lloyd
    rounds in SQL CTEs with the identical arithmetic
    (similarity/cluster.py)."""
    from taco_toolbox_spark.similarity.cluster import kmeans_assign, kmeans_fit

    e = _t(spark, sf_dir, "embeddings")
    centroids = kmeans_fit(e, k=8, n_iter=2)
    return kmeans_assign(e, centroids).select(
        "vec_id", "cluster", F.round(F.col("sq_dist"), 4).alias("sq_dist")
    )


def q_sim_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al.): k-means-cluster the embeddings, then emit
    near-duplicate pairs ONLY within a cluster (cosine >= 0.4 here so the
    sf0.01 gaussians yield signal) — the quadratic all-pairs search
    becomes k bounded within-cluster joins. Oracle = the same unrolled
    k-means plus a within-cluster pairwise cosine in SQL
    (similarity/cluster.py:semantic_dedup_pairs)."""
    from taco_toolbox_spark.similarity.cluster import (
        kmeans_fit,
        semantic_dedup_pairs,
    )

    e = _t(spark, sf_dir, "embeddings")
    centroids = kmeans_fit(e, k=8, n_iter=2)
    # n_blocks=8: the cluster join alone has k=8 keys (8 tasks carry all
    # pairwise work); triangular blocking spreads it over k*B=64 keys
    # with an output-identical pair set (similarity/cluster.py).
    return semantic_dedup_pairs(e, centroids, threshold=0.4, n_blocks=8)


def q_sim_dedup_clusters(spark, sf_dir):
    """Embedding near-dup pairs closed into canonical clusters: the same
    connected-components + keep/drop verdict as dedup_clusters, over the
    LSH cosine pair graph. Oracle = recursive-CTE closure over the
    pipeline-replica pair SQL."""
    from taco_toolbox_spark.dedup.cluster import canonical_docs
    from taco_toolbox_spark.similarity.ann import embedding_near_duplicates

    e = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_duplicates(e, threshold=0.4).select("id_a", "id_b")
    return canonical_docs(pairs, e, "vec_id")


def q_text_stats(spark, sf_dir):
    """Text analysis: token counts + quality ratios (JVM expressions)."""
    d = _ts(spark, sf_dir, "documents")
    from taco_toolbox_spark.functions.text import quality_features

    qf = quality_features("text")
    return d.select(
        "doc_id",
        qf["n_tokens"].alias("n_tokens"),
        qf["n_chars"].alias("n_chars"),
        qf["mean_token_len"].alias("mean_token_len"),
    )


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals (functions/text.py:
    repetition_features) — duplicate-line fractions and repeated
    bigram/trigram char coverage, all per-row JVM array expressions
    (no shuffle, no Python). The corpus text is single-line, so the
    query first splits it into lines by a deterministic literal
    replacement (every ' data ' becomes a line break) applied
    IDENTICALLY in the oracle — giving the line metrics real work.
    Every fraction is one int/int double division, so DuckDB's
    unnest+groupBy realization must match bit-for-bit."""
    from taco_toolbox_spark.functions.text import repetition_features

    d = _ts(spark, sf_dir, "documents")
    ml = F.replace(F.col("text"), F.lit(" data "), F.lit("\ndata\n"))
    # five field projections off one struct expression: interpreted
    # subexpression elimination shares the underlying scans (measured
    # FASTER than an inline()-generator single evaluation)
    rf = repetition_features(ml)
    return d.select(
        "doc_id",
        rf["n_lines"].alias("n_lines"),
        rf["dup_line_frac"].alias("dup_line_frac"),
        rf["dup_line_char_frac"].alias("dup_line_char_frac"),
        rf["top_bigram_frac"].alias("top_bigram_frac"),
        rf["dup_trigram_frac"].alias("dup_trigram_frac"),
    )


def q_text_lang_distribution(spark, sf_dir):
    """Categorical distribution over the documents.lang column."""
    from taco_toolbox_spark.operators.distribution import categorical_distribution

    return categorical_distribution(_t(spark, sf_dir, "documents"), "lang")


def q_lang_id(spark, sf_dir):
    """Language-ID heuristic: stopword-occurrence argmax, pure JVM column
    expressions (DuckDB-oracled)."""
    from taco_toolbox_spark.functions.text import lang_id

    d = _ts(spark, sf_dir, "documents")
    return d.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


def q_w4_sessionize(spark, sf_dir):
    """Sessionization: lag + gap>30min cumsum per user (the idiomatic
    window realization of per-group sequence segmentation)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ in the parquet — cast via timestamp (session UTC)
    sec = F.col("ts").cast("timestamp").cast("long")
    gap = F.when(sec - F.lag(sec).over(w) > 1800, 1).otherwise(0)
    return ev.select(
        "event_id",
        "user_id",
        F.sum(gap).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("session_id"),
    )


def q_a7_extent_union(spark, sf_dir):
    """A7 partial→final extent merge: per-type extents unioned globally."""
    from taco_toolbox_spark.operators.extents import temporal_extent, union_extents

    per = temporal_extent(_t(spark, sf_dir, "events"), ["ts"], ["event_type"])
    return union_extents(per)


#: deterministic synthetic coordinates for the spatial operators (events
#: carry no lon/lat): pure double arithmetic over event_id, so DuckDB
#: derives bit-identical values from the same expressions
_LON_SQL = "(event_id * 7919 % 36000) / 100.0 - 180.0"
_LAT_SQL = "(event_id * 104729 % 18000) / 100.0 - 90.0"


def _with_coords(ev):
    lon = (F.col("event_id") * 7919 % 36000) / 100.0 - 180.0
    lat = (F.col("event_id") * 104729 % 18000) / 100.0 - 90.0
    return ev.select("event_id", lon.alias("lon"), lat.alias("lat"))


def q_o1_zorder(spark, sf_dir):
    """F7 Morton encode + F8 grid bucket + O1 z-order sort: the 20 events
    with the smallest z-codes over deterministic synthetic coordinates.
    The oracle replicates the log-depth magic-number bit spread
    (functions/ids.py:_spread_bits) step-for-step in DuckDB BIGINT
    arithmetic — same masks, same shifts."""
    from taco_toolbox_spark.functions.ids import grid_bucket, morton_encode

    pts = _with_coords(_t(spark, sf_dir, "events"))
    return (
        pts.select(
            "event_id",
            morton_encode(F.col("lon"), F.col("lat")).alias("zcode"),
            grid_bucket(F.col("lat"), F.col("lon"), 10.0).alias("cell"),
        )
        .orderBy("zcode", "event_id")
        .limit(20)
    )


def q_a5_extent(spark, sf_dir):
    """A5 spatial extent with the reference's antimeridian rule: when the
    points span both hemispheres wider than 180 degrees, keep the
    sign-group with the larger longitude span (taco/datamodel.py:520-560).
    One conditional aggregation; the oracle replicates the full rule."""
    from taco_toolbox_spark.operators.extents import spatial_extent

    return spatial_extent(_with_coords(_t(spark, sf_dir, "events")))


def q_u1_align_union(spark, sf_dir):
    """P4/U1 schema-align union: two projections with different column
    sets union via unionByName(allowMissingColumns) — typed nulls fill the
    gaps — then a per-type profile proves which side contributed what."""
    from taco_toolbox_spark.schema import align_union

    ev = _t(spark, sf_dir, "events")
    a = ev.select("event_id", "event_type", "value")
    b = ev.select("event_id", "event_type", "ts")
    u = align_union([a, b])
    return u.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("n_value"),
        F.count("ts").alias("n_ts"),
    )


def q_pivot_by_day(spark, sf_dir):
    """Pivot via conditional aggregation: per-day counts of each event type."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    aggs = [
        F.sum((F.col("event_type") == t).cast("long")).alias(f"n_{t}")
        for t in ("click", "view", "purchase", "signup", "error")
    ]
    return ev.groupBy(day).agg(*aggs)


def q_skew_salted_agg(spark, sf_dir):
    """Salted two-phase aggregation (hot-key skew handling): must equal a
    plain GROUP BY — the DuckDB oracle is that plain GROUP BY."""
    from taco_toolbox_spark.skew import salted_agg

    ev = _t(spark, sf_dir, "events")
    return salted_agg(
        ev,
        ["user_id"],
        {
            "n": (F.count(F.lit(1)), F.sum("n")),
            "min_ts": (F.min("ts"), F.min("min_ts")),
            "max_ts": (F.max("ts"), F.max("max_ts")),
            "max_value": (F.max("value"), F.max("max_value")),
        },
        buckets=16,
    )


#: corpus dump consumed by the engine_verdicts DuckDB oracle — the path is
#: versioned by the generation parameters so a parameter change can't reuse
#: a stale dump
_ORACLE_DUMP = "/tmp/spark_graft_oracle/c500_s42_d500"


def _write_verdict_dump(spark) -> None:
    import os

    # idempotent (same _DONE contract as _ensure_verdict_dump): the dump
    # is a deterministic fixture (fixed seed/params), so the 17 query
    # builders calling this need not regenerate and rewrite it — the
    # first caller materializes it, later callers see the marker. The
    # queries' own plans still generate their corpus in-plan; only the
    # DuckDB-side fixture write is skipped.
    if os.path.exists(os.path.join(_ORACLE_DUMP, "_DONE")):
        return
    from taco_toolbox_spark.datagen import generate_transcripts

    corpus = generate_transcripts(
        spark, n_convs=500, seed=42, violation_denom=500
    )
    corpus.corrupted.write.mode("overwrite").parquet(f"{_ORACLE_DUMP}/transcripts")
    corpus.clean.write.mode("overwrite").parquet(f"{_ORACLE_DUMP}/baseline")
    with open(os.path.join(_ORACLE_DUMP, "_DONE"), "w") as f:
        f.write("ok")


def _ensure_verdict_dump() -> None:
    """Make the corpus parquet available to DuckDB regardless of whether the
    driver evaluates the Spark query or the oracle SQL first. Generation is
    a deterministic pure-column-expression plan (datagen.py), so both sides
    always see identical values."""
    import os

    if os.path.exists(os.path.join(_ORACLE_DUMP, "_DONE")):
        return
    from pyspark.sql import SparkSession

    from taco_toolbox_spark.session import get_spark

    active = SparkSession.getActiveSession()
    spark = active or get_spark(
        "oracle_dump", master="local[8]", shuffle_partitions=8
    )
    _write_verdict_dump(spark)
    if active is None:
        spark.stop()


def q_engine_verdicts(spark, sf_dir):
    """The full transcript validation battery on a deterministic synthetic
    corpus — the engine's flagship. Drift runs in "exact" mode (sort-based
    type-7 percentiles) so the ENTIRE battery, drift included, is
    independently recomputed by the DuckDB oracle over a parquet dump of
    the same corpus; uniqueness/vocab/format/range/monotone/contiguity/
    text-equality are plain SQL there."""
    from taco_toolbox_spark.checks import transcript_checks
    from taco_toolbox_spark.datagen import generate_transcripts
    from taco_toolbox_spark.engine import run_validation

    corpus = generate_transcripts(
        spark, n_convs=500, seed=42, violation_denom=500
    )
    _write_verdict_dump(spark)
    checks = transcript_checks(reference=corpus.clean, drift_method="exact")
    res = run_validation(corpus.corrupted, checks, baseline=corpus.clean)
    return (
        res.verdicts.groupBy("check_id")
        .agg(
            F.sum("n_violations").alias("n_violations"),
            F.sum(F.when(~F.col("passed"), 1).otherwise(0)).alias("parts_failed"),
        )
        .orderBy("check_id")
    )


def q_v13_role_seq(spark, sf_dir):
    """Role-transition grammar validation (checks.SequenceCheck): every
    adjacent (prev, cur) role pair within a conversation must be an allowed
    protocol transition — a conversation OPENS with `system`, and `system`
    never reappears mid-conversation. The reference analog is its
    structural sequence rules (PIT child-order isomorphism,
    taco/datamodel.py:294-390). Engine-compiled into the SHARED lag-window
    pass (with ts_monotone et al. — adding a grammar adds zero scans) plus
    one min_by group-agg for the opening rule; injected `bad_role`
    corruptions surface as disallowed transitions. The oracle recomputes
    the identical violation coordinates with lag()/arg_min() SQL (detail
    strings excluded — the row SET is what is verified)."""
    from taco_toolbox_spark.checks import role_sequence_check
    from taco_toolbox_spark.datagen import generate_transcripts
    from taco_toolbox_spark.engine import run_validation

    corpus = generate_transcripts(
        spark, n_convs=500, seed=42, violation_denom=500
    )
    _write_verdict_dump(spark)
    res = run_validation(corpus.corrupted, [role_sequence_check()])
    return res.violations.select("part", "check_id", "conv_id", "turn_idx")


def q_v14_role_close(spark, sf_dir):
    """Closing-value rule of the role grammar (checks.SequenceCheck.last):
    each conversation must END (value at its LARGEST turn_idx) with an
    in-vocabulary non-`system` role — an injected `narrator` corruption on
    a final turn surfaces here. Endpoint-only grammar (``allowed=None``):
    the engine skips the lag window entirely and compiles the rule into
    ONE (part, conv_id) group-agg whose min_by/max_by partial-aggregate
    map-side — one row per conversation crosses the shuffle no matter how
    hot the conversation (the same shape as the opening rule, which shares
    the identical agg when both are present). The oracle recomputes the
    coordinates with arg_max() SQL."""
    from taco_toolbox_spark.checks import ROLE_LAST, role_sequence_check
    from taco_toolbox_spark.datagen import generate_transcripts
    from taco_toolbox_spark.engine import run_validation

    corpus = generate_transcripts(
        spark, n_convs=500, seed=42, violation_denom=500
    )
    _write_verdict_dump(spark)
    res = run_validation(
        corpus.corrupted,
        [
            role_sequence_check(
                check_id="role_close", allowed=None, first=None, last=ROLE_LAST
            )
        ],
    )
    return res.violations.select("part", "check_id", "conv_id", "turn_idx")


def q_v15_turn_gap(spark, sf_dir):
    """Bounded adjacent-step rule (checks.GapCheck): inside a conversation,
    consecutive turns must be at most 120 seconds apart — the recovery
    jump AFTER an injected 1-hour ts regression (~3600s forward step)
    surfaces here, the temporal-sanity sibling of ts_monotone. Compiled
    into the SAME shared lag window as every other adjacent-pair check
    (adding a gap bound adds zero scans and zero shuffles; the chunked
    skew-proof path replays the identical expression on chunk-edge pairs).
    The oracle recomputes the coordinates with lag()/epoch() SQL — the
    step arithmetic is integer seconds on both engines, so the threshold
    comparison is exact."""
    from taco_toolbox_spark.checks import GapCheck
    from taco_toolbox_spark.datagen import generate_transcripts
    from taco_toolbox_spark.engine import run_validation

    corpus = generate_transcripts(
        spark, n_convs=500, seed=42, violation_denom=500
    )
    _write_verdict_dump(spark)
    res = run_validation(
        corpus.corrupted,
        [
            GapCheck(
                check_id="ts_gap",
                description="consecutive turns <= 120s apart",
                value_col="ts",
                max_step=120,
            )
        ],
    )
    return res.violations.select("part", "check_id", "conv_id", "turn_idx")


def q_dedup_containment(spark, sf_dir):
    """ASYMMETRIC near-dup pairs: shingle-set containment |A∩B|/min(|A|,|B|)
    >= 0.8 (dedup/ngram.py:containment_pairs) — the doc-inside-doc shape
    symmetric Jaccard structurally misses (a short quote fully embedded in
    a long page has containment 1.0 but Jaccard ~0.01). Same distributed
    shape as the Jaccard path: shingle equi-join with the frequency cap,
    never a cross join; contained_id = the smaller side (ties to id_a) is
    the copy a curation pipeline drops. The oracle recomputes the exact
    formula over DuckDB's independent shingle join."""
    from taco_toolbox_spark.dedup.ngram import containment_pairs

    d = _t(spark, sf_dir, "documents")
    return containment_pairs(
        d, "text", "doc_id", n=3, threshold=0.8, max_shingle_freq=1000
    )


def q_v16_fd_tool_role(spark, sf_dir):
    """Functional-dependency validation (checks/fd.py:fd_violations):
    tool -> role must hold per partition — every tool name is used by
    exactly one role. The tool_on_chat corruption (tool='search' on a chat
    turn) and bad_role corruption (role='narrator' on a tool turn) both
    break it; tool-less turns are exempt (skip_null_determinant — NULL
    tool legitimately spans roles). Two stacked map-side-combinable hash
    aggregations, no expand, no window: determinant skew is absorbed at
    the (determinant, combo) grain, so one tool used by 10^9 turns crosses
    the shuffle as one combiner row per (task, role). The oracle replays
    the two-level GROUP BY with the same chr(0) NULL sentinel."""
    from taco_toolbox_spark.checks.fd import fd_violations
    from taco_toolbox_spark.datagen import generate_transcripts

    corpus = generate_transcripts(
        spark, n_convs=500, seed=42, violation_denom=500
    )
    _write_verdict_dump(spark)
    return fd_violations(
        corpus.corrupted,
        ["tool"],
        ["role"],
        "part",
        skip_null_determinant=True,
    )


def q_t5_budget_select(spark, sf_dir):
    """Budget-capped quality selection (operators/partitioning.py:
    select_top_quality_to_budget): keep the highest-scoring documents
    until a global token budget — the data-selection primitive behind
    "best docs until N tokens" curation. Exact distributed prefix sum
    (the assign_size_bins machinery: order-monotone buckets + window
    cumsums + a broadcast offset table — no single-partition window), so
    the kept set is exactly an order-prefix under the total
    (score desc, doc_id asc) order. Score = length(text) and tokens =
    whitespace token count, both integers, so the DuckDB window-cumsum
    oracle reproduces the selection bit-for-bit."""
    from taco_toolbox_spark.functions.text import token_count
    from taco_toolbox_spark.operators.partitioning import (
        select_top_quality_to_budget,
    )

    d = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.length("text").alias("score"),
            token_count("text").alias("toks"),
        )
    )
    out = select_top_quality_to_budget(d, "score", "toks", 10_000, "doc_id")
    return out.filter("selected").select(
        "doc_id", "score", "toks", F.col("cum_size").cast("long").alias("cum_toks")
    )


def q_t6_budget_select_grouped(spark, sf_dir):
    """Per-group budget-capped selection (select_to_budget group_cols):
    the data-mixing form — "N tokens per domain". Domains here are a
    deterministic doc_id bucketing so the oracle replays them verbatim;
    windows stay keyed by (group, bucket) so a hot domain never
    serializes one task; the offset join is null-safe on group keys."""
    from taco_toolbox_spark.functions.text import token_count
    from taco_toolbox_spark.operators.partitioning import select_to_budget

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(5)).alias("domain"),
        F.length("text").alias("score"),
        token_count("text").alias("toks"),
    )
    out = select_to_budget(
        d.withColumn("_nscore", -F.col("score").cast("double")),
        "toks",
        3_000,
        ["_nscore", "doc_id"],
        group_cols=["domain"],
    )
    return out.filter("selected").select(
        "doc_id", "domain", "score", "toks",
        F.col("cum_size").cast("long").alias("cum_toks"),
    )


def q_w10_loss_spans(spark, sf_dir):
    """Chat rendering with SFT loss spans (operators/transcripts.py:
    render_with_loss_spans): each conversation flattens to one document
    plus 0-based end-exclusive char spans covering exactly the rendered
    assistant lines — the character truth a tokenizer-side loss masker
    consumes. ONE grouped aggregation; the span arithmetic is a pure-JVM
    F.aggregate left-fold over the sorted line array (running position +
    conditional append) — no window pass, no second shuffle. The oracle
    recomputes the offsets with a per-conversation window cumsum over the
    identical line rendering and (order, line, role) sort."""
    from taco_toolbox_spark.datagen import generate_transcripts
    from taco_toolbox_spark.operators.transcripts import (
        render_with_loss_spans,
    )

    corpus = generate_transcripts(
        spark, n_convs=500, seed=42, violation_denom=500
    )
    _write_verdict_dump(spark)
    out = render_with_loss_spans(corpus.corrupted)
    return out.select(
        "conv_id", F.explode("spans").alias("s")
    ).select(
        "conv_id",
        F.col("s.start").alias("span_start"),
        F.col("s.end").alias("span_end"),
    )


def q_v17_embedding_sanity(spark, sf_dir):
    """Per-row embedding sanity battery (checks/base.py:embedding_checks
    via apply_row_checks): dimension, null, NaN/Inf, L2-norm bounds — the
    vector counterpart of the numeric range checks; one truncated or NaN
    vector silently poisons every downstream dot product / ANN bucket.
    Corruptions are injected deterministically by vec_id residue (null /
    truncate to 32 / x100 scale / NaN append) and the oracle replays the
    identical injection + rules; the norm is a float64 left-fold in array
    order, so both engines agree bit-for-bit. Zero shuffles: the whole
    battery is one projection over the scan."""
    from taco_toolbox_spark.checks import apply_row_checks, embedding_checks

    e = _t(spark, sf_dir, "embeddings")
    vid = F.col("vec_id")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    corrupted = (
        F.when(vid % 97 == 0, F.lit(None).cast("array<double>"))
        .when(vid % 89 == 0, F.slice(dbl, 1, 32))
        .when(vid % 83 == 0, F.transform(dbl, lambda x: x * F.lit(100.0)))
        .when(vid % 79 == 0,
              F.array_append(dbl, F.lit(float("nan")).cast("double")))
        .otherwise(dbl)
    )
    df = e.select("vec_id", corrupted.alias("embedding"))
    checks = embedding_checks("embedding", 64, norm_lo=0.5, norm_hi=2.0)
    return apply_row_checks(df, checks, ["vec_id"])


def q_t7_group_percentile(spark, sf_dir):
    """Within-group percentile rank under the total (value, id) order
    (operators/partitioning.py:group_percentile) — cross-domain score
    calibration: raw quality scores are not comparable across domains,
    within-domain percentiles are, so one pct_rank >= q filter keeps each
    domain's own top slice. Distributed rank = the shared
    _ordered_prefix_sum machinery with size 1 (per-(group, bucket) window
    row counts + broadcast offsets — a hot domain never serializes one
    task); exact integer (row_number-1)/(n-1) with one final division, so
    the DuckDB window replica agrees bit-for-bit (NULLS FIRST pinned in
    the oracle: Spark sorts NULLs first ascending, DuckDB defaults
    last)."""
    from taco_toolbox_spark.operators.partitioning import group_percentile

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(5)).alias("domain"),
        F.length("text").alias("score"),
    )
    return group_percentile(d, "score", "doc_id", ["domain"]).select(
        "doc_id", "domain", "score", "pct_rank"
    )


def q_d4_profile_drift(spark, sf_dir):
    """Per-column profile drift between the clean and corrupted corpus
    versions (stats.py:profile_drift) — the profile-level complement of
    verdict_diff: exact row/non-null/distinct counts and min/max per
    column on BOTH sides plus null_frac_delta and distinct_ratio, every
    drift number exact-integer arithmetic with one division. One
    single-pass aggregation per side; the col_name join is
    metadata-scale. The injected corruptions move every column: dup_turn
    changes n, null_text moves the null fraction, gap_turn (+1000)
    stretches turn_idx's max, narrator/hammer grow the role/tool
    vocabularies."""
    from taco_toolbox_spark.datagen import generate_transcripts
    from taco_toolbox_spark.stats import profile_drift

    corpus = generate_transcripts(
        spark, n_convs=500, seed=42, violation_denom=500
    )
    _write_verdict_dump(spark)
    return profile_drift(
        corpus.clean, corpus.corrupted, ["turn_idx", "role", "tool", "text"]
    )


def q_a10_transition_matrix(spark, sf_dir):
    """Role transition matrix (operators/distribution.py:transition_matrix):
    adjacent (prev, cur) role-pair counts across all conversations — the
    structural profile of a transcript corpus and the empirical basis for
    a SequenceCheck's ``allowed`` set (an `x -> system` count here IS the
    grammar violation v13 flags). One lag window (the same shuffle-key
    shape as the validation battery) into one map-side-combined count.
    Oracle: identical lag()/count SQL."""
    from taco_toolbox_spark.datagen import generate_transcripts
    from taco_toolbox_spark.operators.distribution import transition_matrix

    corpus = generate_transcripts(
        spark, n_convs=500, seed=42, violation_denom=500
    )
    _write_verdict_dump(spark)
    return transition_matrix(
        corpus.corrupted, "conv_id", "turn_idx", "role"
    ).select("prev", "cur", F.col("n").cast("bigint").alias("n"))


def q_s3_hash_split(spark, sf_dir):
    """Deterministic train/val/test split (operators/sampling.py:
    hash_split): every document's split label is a pure function of its
    id hash — stable across runs, engines, corpus growth, and
    repartitioning, with cumulative bucket ranges 80/10/10. Zero shuffle,
    zero actions: the label is a projection the scan pipelines (keying by
    a group id keeps whole conversations in one split — the leakage
    rule). md5 mode for the oracle; xxhash64 is the library default."""
    from taco_toolbox_spark.operators.sampling import hash_split

    d = _t(spark, sf_dir, "documents")
    return hash_split(
        d,
        ["doc_id"],
        {"train": 0.8, "val": 0.1, "test": 0.1},
        seed=7,
        hash_fn="md5",
    ).select("doc_id", "split")


def q_s4_leakage_split(spark, sf_dir):
    """Leakage-safe train/val/test split (dedup/cluster.py:
    leakage_safe_split): the split label is hash_split of the near-dup
    CLUSTER representative, not of the document — so a near-copy of a
    training doc can never land in eval. Composition: n-gram Jaccard
    pairs → connected-components closure (star fixpoint) → md5 hash
    split keyed by cluster_id. The oracle replays the closure as a
    recursive CTE and the split as the identical md5 arithmetic, so the
    no-straddle guarantee is verified end to end, not assumed."""
    from taco_toolbox_spark.dedup.cluster import leakage_safe_split
    from taco_toolbox_spark.dedup.ngram import jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.2)
    return leakage_safe_split(
        d,
        pairs,
        {"train": 0.8, "val": 0.1, "test": 0.1},
        id_col="doc_id",
        seed=7,
        hash_fn="md5",
    ).select("doc_id", "cluster_id", "split")


def q_d3_embedding_drift(spark, sf_dir):
    """Per-label embedding-centroid drift (checks/drift.py:
    embedding_centroid_drift): cosine of each label-partition's mean
    embedding against the corpus centroid — the embedding sibling of the
    quantile and categorical drift checks. EXACT until the final step:
    components quantized to BIGINT (round(v*1e7) — identical IEEE multiply
    + half-away rounding on both engines), per-dim sums order-independent
    BIGINT, cross/self products summed in DECIMAL(38,0) (the 1/n centroid
    factors cancel inside cosine), ONE double division + sqrt at the end —
    so drift verdicts reproduce bit-for-bit, which float-accumulated means
    cannot promise. Plan: one posexplode + map-side-combined grouped sum
    over the data, a 64-row broadcast join, a per-part final agg."""
    from taco_toolbox_spark.checks.drift import embedding_centroid_drift

    e = _t(spark, sf_dir, "embeddings")
    return embedding_centroid_drift(e, "embedding", "label")


def q_a11_conv_profile(spark, sf_dir):
    """Per-conversation structural profile (operators/transcripts.py):
    turn count, distinct roles, tool-turn count, wall-clock duration,
    total characters, opening/closing roles — ONE map-side-combined
    aggregation, one row per conversation across the shuffle regardless
    of conversation length. Every field is exact integer/epoch arithmetic
    (duration as epoch-seconds difference, no float accumulation), so the
    oracle reproduces the profile bit-for-bit."""
    from taco_toolbox_spark.datagen import generate_transcripts
    from taco_toolbox_spark.operators.transcripts import conversation_profile

    corpus = generate_transcripts(
        spark, n_convs=500, seed=42, violation_denom=500
    )
    _write_verdict_dump(spark)
    return conversation_profile(corpus.corrupted)


def q_w5_token_truncate(spark, sf_dir):
    """Token-budget conversation truncation (operators/transcripts.py):
    keep each conversation's prefix of turns whose cumulative whitespace
    token count fits a 30-token budget — never cutting mid-turn, never
    leaving a gap. ONE cumulative window over the battery's (conv, turn)
    key shape (exchange-free on the bucketed layout); token counting is
    the JVM regex counter. The oracle replays the identical cumsum +
    prefix filter in SQL."""
    from taco_toolbox_spark.datagen import generate_transcripts
    from taco_toolbox_spark.operators.transcripts import (
        truncate_to_token_budget,
    )

    corpus = generate_transcripts(
        spark, n_convs=500, seed=42, violation_denom=500
    )
    _write_verdict_dump(spark)
    out = truncate_to_token_budget(corpus.corrupted, budget=30)
    return out.select(
        "conv_id", "turn_idx", "turn_tokens", "cum_tokens", "truncated"
    )


def q_d4_ks_drift(spark, sf_dir):
    """Per-day two-sample Kolmogorov–Smirnov drift of event value vs the
    corpus-wide baseline — the ECDF member of the drift family (quantile,
    categorical TV, embedding centroid, +KS): the supremum over
    the WHOLE distribution catches a shape change between percentiles
    that leaves p25/p50/p75 untouched. Exact in the family's discipline:
    the sup is evaluated on the union of both samples' jump points, each
    deviation is the integer |cum_day·m − cum_base·n_day| (cross-
    multiplied), the max is a BIGINT max, ONE float division at the end —
    so an independent engine reproduces every row bit-for-bit
    (checks/drift.py:ks_statistic_by_partition). Plan: two grouped counts
    (map-side partial), a broadcast baseline grid, one per-day cumulative
    window — the exact drift mode's cost class; at 100 TB the baseline is
    a bounded reference sample exactly like the quantile drift baseline."""
    from taco_toolbox_spark.checks.drift import ks_statistic_by_partition

    ev = _t(spark, sf_dir, "events")
    day = ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    return ks_statistic_by_partition(day, "value", "day", ev).select(
        F.col("part").alias("day"), "n_part", "m", "ks_num", "ks"
    )


def q_d2_cat_drift(spark, sf_dir):
    """Per-day categorical drift of event_type vs the corpus-wide
    distribution: EXACT total-variation distance, each category's term the
    integer |n_day·N_total − n_global·n_day_total| (cross-multiplied — no
    per-category float division), summed as BIGINT (order-independent),
    ONE float division at the end. This is the categorical sibling of the
    quantile DriftCheck, and the arithmetic discipline is what makes a
    drift verdict reproducible bit-for-bit by an independent engine —
    float-accumulated KL/PSI cannot promise that. Plan: one grouped count
    (map-side partial agg), then broadcast grid joins over
    |days|×|categories| rows (checks/drift.py:categorical_tv)."""
    from taco_toolbox_spark.checks.drift import (
        categorical_counts,
        categorical_tv,
    )

    ev = _t(spark, sf_dir, "events")
    base = categorical_counts(ev, "event_type")
    day = ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    return categorical_tv(day, "event_type", "day", base).select(
        F.col("part").alias("day"), "n_part", "tv_num", "tv"
    )


def q_d5_corr_drift(spark, sf_dir):
    """Per-event-type Pearson-correlation drift of (second-of-day,
    value·1000) vs the corpus-wide relationship — the RELATIONSHIP member
    of the drift family: quantile/categorical/KS/centroid drift all watch
    one column's marginal, but a partition can keep every marginal intact
    while the relationship between columns breaks. Exact in the family's
    discipline (checks/drift.py:correlation_by_partition): five
    DECIMAL-exact order-independent moment sums per partition, ONE float
    transition at the end — so DuckDB (HUGEINT sums, identical final
    expression) reproduces every row bit-for-bit; a float-accumulated
    corr() aggregate cannot. Inputs are integers by construction
    (floor(epoch) % 86400; round(value*1000) — the KS family's documented
    quantization move). Plan: one projection + ONE map-side-combinable
    hash aggregation per side, 1-row broadcast baseline, no window."""
    from taco_toolbox_spark.checks.drift import correlation_drift

    ev = _t(spark, sf_dir, "events")
    x = "CAST(FLOOR(CAST(CAST(ts AS TIMESTAMP) AS DOUBLE)) AS BIGINT) % 86400"
    y = "CAST(ROUND(value * 1000) AS BIGINT)"
    return correlation_drift(ev, x, y, "event_type").select(
        F.col("part").alias("event_type"), "n", "corr", "corr_base", "delta"
    )


def q_d6_cond_drift(spark, sf_dir):
    """Per-(day, event_type) conditional-distribution drift: exact
    total-variation distance of the day's P(value_bucket | event_type)
    from the corpus-wide P(value_bucket | event_type) — the
    categorical-RELATIONSHIP member of the drift family, pairing with
    d5's numeric correlation drift: both marginals (event-type mix AND
    value-bucket mix) can stay intact while the contingency table breaks.
    Exact in the family's discipline (checks/drift.py:conditional_tv):
    each category term is the cross-multiplied INTEGER
    |n(day,type,bucket)·N_base(type) − n_base(type,bucket)·N(day,type)|,
    summed as BIGINT (order-independent), ONE float division at the end —
    so DuckDB reproduces every row bit-for-bit. Plan: ONE grouped count
    (map-side partial agg); everything downstream is broadcast-grid-sized
    (|days|·|types|·|buckets| rows)."""
    from taco_toolbox_spark.checks.drift import (
        conditional_counts,
        conditional_tv,
    )

    ev = _t(spark, sf_dir, "events")
    bucket = "CAST(LEAST(CAST(FLOOR(value / 100) AS INT), 4) AS STRING)"
    base = conditional_counts(ev, "event_type", bucket)
    day = ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    return conditional_tv(day, "event_type", bucket, "day", base).select(
        F.col("part").alias("day"), "cond", "n_part", "n_base",
        "tv_num", "tv",
    )


def q_d7_transition_drift(spark, sf_dir):
    """Per-(day, from-event-type) TRANSITION drift: exact total-variation
    distance of the day's outgoing-transition distribution
    P(next event_type | event_type) — the Markov row over each user's
    event stream under stable (ts, event_id) order — from the corpus-wide
    transition matrix. The SEQUENTIAL-structure member of the drift
    family: d2 watches one marginal, d5/d6 a within-row relationship;
    none can see a corpus whose every marginal AND contingency stays
    intact while the ORDER of events breaks (retry loops appearing,
    sessions that stop closing with the usual terminal event). Boundary
    sentinels expose opening/closing drift as P(to | <start>) /
    P(<end> | from); a transition is attributed to the day of the row
    that COMPLETES it. Exact in the family's discipline
    (checks/drift.py:transition_drift -> conditional_tv): cross-multiplied
    INTEGER terms summed as BIGINT, ONE float division at the end, so
    DuckDB reproduces every row bit-for-bit. Plan: ONE bounded lag/lead
    window keyed by user_id (never a hot key — streams are bounded), ONE
    grouped count; everything downstream is broadcast-grid-sized."""
    from taco_toolbox_spark.checks.drift import (
        transition_counts,
        transition_drift,
    )

    ev = _t(spark, sf_dir, "events")
    order = ("ts", "event_id")
    base = transition_counts(ev, "user_id", order, "event_type")
    day = ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    return transition_drift(
        day, "user_id", order, "event_type", "day", base
    ).select(
        F.col("part").alias("day"), "from_state", "n_part", "n_base",
        "tv_num", "tv",
    )


def q_stream_transitions(spark, sf_dir):
    """STREAMING query under the value oracle: each user's event stream is
    fed through the stateful transition emitter
    (streaming/validate_stream.py:stream_transition_pairs —
    applyInPandasWithState, ONE string of state per sequence, vectorized
    sort+shift per micro-batch) and the emitted (from_state, to_state)
    pair counts must equal the batch lag rule — which the DuckDB oracle
    computes with its own window. The staged copy confines each user to
    one file (repartition by user_id), the condition under which the
    stream multiset is exact regardless of file arrival order; <end>
    rows are batch-only (an unbounded stream never proves a sequence
    over), so the oracle drops them by construction (lag, not lead).
    Completes the batch<->stream matrix for the transition-drift family:
    these counts ARE the live side of a transition-matrix TV comparison
    against a stored baseline."""
    from taco_toolbox_spark.streaming.validate_stream import (
        drain,
        stream_transition_pairs,
    )

    # one file per user bucket: every sequence inside one micro-batch
    staged = _stage_stream(
        spark, sf_dir, "events", "events_trans",
        build=lambda d: d.repartition(8, "user_id"),
    )
    out = drain(
        spark,
        staged,
        lambda s: stream_transition_pairs(
            s, "user_id", ("ts", "event_id"), "event_type"
        ),
        "update",
        2,
    )
    return out.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("n")
    )


def q_s1_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum hash sampling (md5 portability mode):
    keep-decision = first-32-md5-bits(event_id, seed) mod 1e6 under a
    per-event_type threshold. The oracle replicates the identical md5
    arithmetic, so both engines keep EXACTLY the same rows — the property
    that makes hash sampling resumable/retryable at 100 TB where rand()
    sampling is not (operators/sampling.py)."""
    from taco_toolbox_spark.operators.sampling import stratified_hash_sample

    ev = _t(spark, sf_dir, "events")
    return stratified_hash_sample(
        ev,
        "event_type",
        {"click": 0.5, "view": 0.1, "purchase": 1.0},
        ["event_id"],
        default_fraction=0.05,
        seed=7,
        hash_fn="md5",
    ).select("event_id", "event_type", "user_id")


def q_s2_sample_k_per_group(spark, sf_dir):
    """Fixed-size deterministic per-group sampling (md5 mode): the 5
    events per event_type with the smallest md5 key hashes — the
    rerun-stable reservoir-sample analog. The oracle replicates the hash
    arithmetic and the (hash, key) tie-broken row_number ranking."""
    from taco_toolbox_spark.operators.sampling import hash_sample_k_per_group

    ev = _t(spark, sf_dir, "events")
    return hash_sample_k_per_group(
        ev, ["event_type"], ["event_id"], k=5, seed=7, hash_fn="md5"
    ).select("event_type", "event_id", "user_id")


def q_p1_pii_redact(spark, sf_dir):
    """PII detection + redaction (functions/pii.py): portable Java∩RE2
    regexes counted and redacted over text synthesized deterministically
    from customer columns (the corpus tables carry no real PII, so both
    engines build the same PII-bearing string first — the regex parity and
    the fixed redaction order are what's on trial). Pure regexp column
    expressions: scan-shaped, zero Python, zero shuffle."""
    from taco_toolbox_spark.functions.pii import pii_count, redact_pii

    c = _ts(spark, sf_dir, "customer")
    text = F.concat_ws(
        "",
        F.lit("reach "),
        F.col("c_name"),
        F.lit(" at user"),
        F.col("c_custkey").cast("string"),
        F.lit("@mail.example.com or +1-555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10.0."),
        (F.col("c_custkey") % 256).cast("string"),
        F.lit("."),
        F.col("c_nationkey").cast("string"),
    )
    d = c.select(F.col("c_custkey"), text.alias("t"))
    return d.select(
        "c_custkey",
        pii_count(F.col("t"), "email").alias("n_email"),
        pii_count(F.col("t"), "phone").alias("n_phone"),
        pii_count(F.col("t"), "ipv4").alias("n_ipv4"),
        pii_count(F.col("t"), "ssn").alias("n_ssn"),
        redact_pii(F.col("t")).alias("redacted"),
    )


def q_m1_mixture_sample(spark, sf_dir):
    """Data mixing (md5 portability mode): subsample documents so the
    output targets 60 rows at proportions src0:0.5 / src1:0.3 / src2:0.2
    (src0 saturates at rate 1 — quota larger than the source). Per-source
    rates come from a broadcast count aggregation; the keep decision is
    the deterministic md5 bucket under a floor-truncated float64
    threshold, replicated verbatim by the oracle
    (operators/sampling.py:mixture_sample)."""
    from taco_toolbox_spark.operators.sampling import mixture_sample

    d = _t(spark, sf_dir, "documents")
    return mixture_sample(
        d,
        "source",
        {"src0": 0.5, "src1": 0.3, "src2": 0.2},
        total_target=60,
        key_cols=["doc_id"],
        seed=11,
        hash_fn="md5",
    ).select("doc_id", "source")


def q_m2_weighted_sample(spark, sf_dir):
    """Per-row quality-weighted deterministic sampling (md5 mode): keep
    probability = min(1, n_chars/400) — longer docs kept with higher
    probability, the quality-resampling shape. Zero shuffle: one hash +
    one float threshold per row inside WholeStageCodegen
    (operators/sampling.py:weighted_hash_sample)."""
    from taco_toolbox_spark.operators.sampling import weighted_hash_sample

    d = _t(spark, sf_dir, "documents")
    w = F.col("n_chars").cast("double") / F.lit(400.0)
    return weighted_hash_sample(d, w, ["doc_id"], seed=11, hash_fn="md5").select(
        "doc_id", "n_chars"
    )


def q_j5_asof_join(spark, sf_dir):
    """As-of join: each purchase event enriched with the latest prior (or
    simultaneous) click value for the same user. Spark side is the
    union-tag + running-window encoding (one shuffle, no row
    amplification, operators/asof.py); the oracle is DuckDB's NATIVE
    ASOF LEFT JOIN — two independent realizations of the backward-
    inclusive semantics. The right side is pre-aggregated to one row per
    (user, ts) via max_by/arg_max so both sides are tie-free."""
    from taco_toolbox_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("prior_value"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return asof_join(
        purchases, clicks, ["user_id"], "ts", "ts", ["prior_value"], suffix="_m"
    ).select(
        "event_id",
        F.col("prior_value_m").alias("prior_value"),
        F.col("ts_m").alias("prior_ts"),
    )


def q_stream_sessionize(spark, sf_dir):
    """STREAMING query under the value oracle: the events table is staged
    as a file-stream source, sessionized with native session windows
    (micro-batched, watermarked, state-store merged), and the final
    session aggregates must equal the batch lag+cumsum rule — which the
    DuckDB oracle computes in SQL. A structured-streaming operator held
    to the same rows+schema+hash gate as the batch queries."""
    from taco_toolbox_spark.streaming.validate_stream import (
        drain,
        stream_sessionize,
    )

    staged = _stage_stream(spark, sf_dir, "events", "events")
    out = drain(
        spark,
        staged,
        lambda s: stream_sessionize(s, ("user_id",), "ts", "1800 seconds"),
        "complete",
    )
    return out.select(
        "user_id",
        "session_start",
        "session_end",
        F.col("n_events").cast("long").alias("n_events"),
    )


def q_stream_dedup(spark, sf_dir):
    """STREAMING exact dedup under the full value oracle (VERDICT r4 #7):
    the documents table plus deterministically-injected normalized
    duplicates (every 10th doc re-emitted upper-cased with extra
    whitespace) is staged as a file-stream source and run through
    ``dropDuplicatesWithinWatermark`` on the normalized-text fingerprint
    (streaming/validate_stream.py:stream_dedup). All event times sit
    inside one watermark horizon, so the surviving FINGERPRINT SET is
    independent of micro-batch file order; the query returns the
    survivors' normalized text — which the DuckDB oracle reproduces as
    the distinct normalized text of the documents table (the injected
    rows are dups by construction). WHICH raw duplicate survives is
    arrival-order dependent and deliberately not part of the contract."""
    from taco_toolbox_spark.streaming.validate_stream import (
        drain,
        stream_dedup,
    )

    def _with_planted_dups(docs):
        d = docs.select("doc_id", "text")
        base_ts = F.to_timestamp(F.lit("2025-03-01 00:00:00"))
        orig = d.select(
            "doc_id", "text",
            (base_ts + F.make_interval(
                mins=(F.col("doc_id") % 300).cast("int"))).alias("ts"),
        )
        dups = d.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            F.concat(F.lit("  "), F.upper("text"), F.lit("\t ")).alias("text"),
            (base_ts + F.make_interval(
                mins=(F.col("doc_id") % 300).cast("int"), secs=F.lit(30.0)
            )).alias("ts"),
        )
        return orig.unionByName(dups)

    staged = _stage_stream(
        spark, sf_dir, "documents", "docs_dedup", build=_with_planted_dups
    )
    out = drain(
        spark, staged, lambda s: stream_dedup(s, watermark="24 hours"),
        "append", 4,
    )
    return out.select(
        F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))).alias(
            "norm_text"
        )
    )


def q_stream_minhash_cands(spark, sf_dir):
    """STREAMING near-dedup candidates under the full pipeline-replica
    oracle: documents staged as a bounded file stream; each micro-batch
    row's md5-mode minhash signature (dedup/minhash.py:
    minhash_signature_col — a pure projection, no streaming state) is
    banded and equi-joined against a static LSH bucket store built from
    the same corpus with the same hash family
    (streaming/validate_stream.py:stream_minhash_candidates). The
    distinct (id_a, id_b) set equals the batch md5-mode LSH candidate
    stage exactly — a kept bucket contains both endpoints of every pair
    it certifies, a capped bucket contains neither, so probing a capped
    store from the same corpus reproduces the batch pair set — and the
    oracle replicates that stage CTE-for-CTE (_minhash_cand_ctes: ONE
    md5 per shingle split into 32-bit halves, the same 2-universal
    permutation minima, band-concat buckets, bucket cap, pairs
    id_a < id_b)."""
    from taco_toolbox_spark.streaming.validate_stream import (
        drain,
        minhash_bucket_store,
        stream_minhash_candidates,
    )

    staged = _stage_stream(
        spark, sf_dir, "documents", "docs_minhash",
        build=lambda d: d.select("doc_id", "text"),
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    store = minhash_bucket_store(docs, hash_fn="md5")
    out = drain(
        spark,
        staged,
        lambda s: stream_minhash_candidates(s, store, hash_fn="md5"),
        "append",
        4,
    )
    return out.select("id_a", "id_b").distinct()


def q_t1_quality_filter(spark, sf_dir):
    """Per-group quality filtering: keep the longest 40% of documents per
    language (ceil(0.4 * group size) rows, (n_chars desc, doc_id)
    tie-broken — deterministic). The oracle replicates the count +
    row_number windows."""
    from taco_toolbox_spark.operators.distribution import (
        top_fraction_per_group,
    )

    d = _t(spark, sf_dir, "documents")
    return top_fraction_per_group(
        d, "n_chars", 0.4, ["lang"], tiebreak_cols=["doc_id"]
    ).select("doc_id", "lang", "n_chars")


def q_j6_range_join(spark, sf_dir):
    """Time-range join: clicks by the same user within the hour before
    each purchase (inclusive bounds), counted per purchase. Spark side is
    the bin-replication equi-join rewrite (operators/rangejoin.py — never
    a nested loop); the oracle is DuckDB's direct inequality join — two
    independent realizations of the window predicate."""
    from taco_toolbox_spark.operators.rangejoin import time_range_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    return (
        time_range_join(
            purchases, clicks, ["user_id"], "ts", "ts", -3600.0, 0.0
        )
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n_clicks_1h"))
    )


def q_dedup_clusters(spark, sf_dir):
    """Duplicate-cluster resolution: n-gram Jaccard pairs closed into
    connected components (iterative hash-min label propagation,
    dedup/cluster.py), then a keep/drop verdict for EVERY document. The
    oracle recomputes the same closure with a DuckDB recursive CTE over
    the identical pair SQL — transitivity (A~B, B~C => one cluster) is
    independently verified, not assumed."""
    from taco_toolbox_spark.dedup.cluster import canonical_docs
    from taco_toolbox_spark.dedup.ngram import jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.2)
    return canonical_docs(pairs, d, "doc_id")


def q_cms_estimate(spark, sf_dir):
    """Count-min frequency estimates for every distinct event_type (md5
    portability mode, depth 4 × width 256): each row contributes depth
    (d, bucket) cells via the same first-32-md5-bits arithmetic the
    sampler uses, ONE grouped count builds the sketch (map-side partials
    cap shuffle volume at tasks·depth·width rows REGARDLESS of input
    size), and the estimate is min over depth of the candidate's bucket
    counter. The oracle replays the identical bucket arithmetic in SQL —
    the sketch's over-count-only cells themselves are verified, not just
    a downstream consumer (sketches.py:cms_counters/cms_lookup)."""
    from taco_toolbox_spark.sketches import cms_counters, cms_lookup, cms_merge

    ev = _t(spark, sf_dir, "events")
    counters = cms_merge(
        cms_counters(ev, ["event_type"], depth=4, width=256, hash_fn="md5")
    )
    keys = ev.select("event_type").distinct()
    return cms_lookup(
        counters, keys, ["event_type"], depth=4, width=256, hash_fn="md5"
    ).select("event_type", F.col("_est").alias("est"))


def q_cms_heavy_hitters(spark, sf_dir):
    """Heavy hitters (users with ≥ 1/128 of all events) via the count-min
    sketch: bounded-state candidate generation (over-count-only ⇒ no
    false negatives) followed by an exact verification count of the
    surviving candidates only — the output is EXACT, so the oracle is a
    plain GROUP BY … HAVING while the plan never materializes a full
    per-user histogram (at 10^12 turns the key universe is unbounded;
    the sketch is depth·width counters, the candidate set ≤ 1/f keys
    plus a bounded false-positive tail; sketches.py:cms_heavy_hitters)."""
    from taco_toolbox_spark.sketches import cms_heavy_hitters

    ev = _t(spark, sf_dir, "events")
    return cms_heavy_hitters(
        ev, ["user_id"], min_fraction=1.0 / 128, depth=4, width=1024
    )


def q_stream_incr_dedup(spark, sf_dir):
    """STREAMING incremental exact dedup vs a static corpus under the
    full value oracle: docs with doc_id % 3 == 0 arrive as a bounded file
    stream; each row's md5 normalized-text key is pre-tested against the
    PACKED Bloom filter of the existing corpus's keys (sketches.py:
    bloom_test_col — one boolean column expression, no join, no state;
    misses are verdicted 'new' without probing) and only the maybe-seen
    sliver is left-joined against the static key store
    (streaming/validate_stream.py:stream_incremental_exact — stateless:
    no watermark, no state store). Bloom one-sidedness makes the packed
    pre-test invisible to the output, so the oracle is the plain
    semi-join verdict in SQL."""
    from taco_toolbox_spark.dedup.incremental import exact_keys
    from taco_toolbox_spark.sketches import bloom_pack_words, bloom_positions
    from taco_toolbox_spark.streaming.validate_stream import (
        drain,
        stream_incremental_exact,
    )

    staged = _stage_stream(
        spark, sf_dir, "documents", "docs_incr",
        build=lambda d: d.select("doc_id", "text").filter(
            F.col("doc_id") % 3 == 0
        ),
    )
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    existing = d.filter(F.col("doc_id") % 3 != 0)
    ex_keys = exact_keys(existing, portable_key=True)
    words = bloom_pack_words(
        bloom_positions(ex_keys, ["_k"], 4096, 4, hash_fn="md5"), 4096
    )
    out = drain(
        spark,
        staged,
        lambda s: stream_incremental_exact(
            s, ex_keys, portable_key=True, bloom_words=words,
            bloom_num_hashes=4, bloom_hash_fn="md5",
        ),
        "append",
        4,
    )
    return out.select(F.col("id").alias("doc_id"), "verdict")


def q_w7_render_convs(spark, sf_dir):
    """Chat→flat rendering (operators/transcripts.py:render_conversations):
    each conversation flattens to ONE '<role> text'-lines document — the
    step between validation and tokenization in a transcript training
    pipeline. ONE grouped aggregation (collect + sort by (turn, line) so
    the corrupted corpus's duplicate turn indexes render identically on
    any engine; NULL role/text render as empty, never a NULL line). The
    oracle is DuckDB string_agg with the identical ORDER BY and
    rendering."""
    from taco_toolbox_spark.datagen import generate_transcripts
    from taco_toolbox_spark.operators.transcripts import render_conversations

    corpus = generate_transcripts(
        spark, n_convs=500, seed=42, violation_denom=500
    )
    _write_verdict_dump(spark)
    return render_conversations(corpus.corrupted)


def q_w8_chunk_windows(spark, sf_dir):
    """Sliding context windows (operators/transcripts.py:
    chunk_conversations): window 4 turns, stride 2 — every turn position
    p lands in windows ceil((p−3)/2)..floor(p/2) (clamped at 0), a PURE
    NARROW plan (explode over integer arithmetic, no shuffle/window/
    state) with replication factor exactly ⌈window/stride⌉ = 2, never
    data-dependent. Negative (corrupt) positions drop rather than
    fabricate windows. The oracle replays the identical floor arithmetic
    through DuckDB range()."""
    from taco_toolbox_spark.datagen import generate_transcripts
    from taco_toolbox_spark.operators.transcripts import chunk_conversations

    corpus = generate_transcripts(
        spark, n_convs=500, seed=42, violation_denom=500
    )
    _write_verdict_dump(spark)
    out = chunk_conversations(corpus.corrupted, window_turns=4, stride_turns=2)
    return out.select("conv_id", "turn_idx", "window_id")


def q_b1_bloom_contains(spark, sf_dir):
    """Bloom membership state (sketches.py): insert the normalized-text
    keys of even-id documents into a 2048-bit / 4-hash filter (md5
    portability mode) and test EVERY document. The filter is the distinct
    set of set-bit positions — ≤ num_bits broadcastable rows standing in
    for a corpus-sized join side in the incremental-dedup prefilter
    (dedup/incremental.py). The oracle replays the identical bit
    arithmetic in SQL, so the filter's one-sided guarantee (inserted keys
    ALWAYS test true; outsiders false-positive at the design rate) is
    itself verified cell-for-cell, not just a downstream consumer."""
    from taco_toolbox_spark.dedup.incremental import exact_keys
    from taco_toolbox_spark.sketches import (
        bloom_maybe_contains,
        bloom_positions,
    )

    d = _t(spark, sf_dir, "documents")
    inserted = exact_keys(
        d.filter(F.col("doc_id") % 2 == 0), "text", portable_key=True
    )
    pos = bloom_positions(inserted, ["_k"], 2048, 4, hash_fn="md5")
    cand = exact_keys(d, "text", id_col="doc_id", portable_key=True)
    out = bloom_maybe_contains(pos, cand, ["_k"], 2048, 4, hash_fn="md5")
    return out.select(
        F.col("id").alias("doc_id"), F.col("_maybe").alias("maybe")
    )


def q_w6_reindex_turns(spark, sf_dir):
    """Turn re-indexing (operators/transcripts.py:reindex_turns): after a
    turn-dropping stage (here: quarantining tool turns), renumber
    turn_idx to exactly 0..n−1 per conversation so the ContiguityCheck
    invariant holds again downstream. ONE window over the battery's
    (conv, turn) key shape — exchange-free on the bucketed layout. The
    original index is retained for violation-row lineage; the output
    projects only (conv_id, orig, new) so duplicate-orig ties (present in
    the corrupted corpus by design) renumber to the same multiset on any
    engine."""
    from taco_toolbox_spark.datagen import generate_transcripts
    from taco_toolbox_spark.operators.transcripts import reindex_turns

    corpus = generate_transcripts(
        spark, n_convs=500, seed=42, violation_denom=500
    )
    _write_verdict_dump(spark)
    kept = corpus.corrupted.filter(F.col("role") != "tool")
    out = reindex_turns(kept)
    return out.select("conv_id", "orig_turn_idx", "turn_idx")


def q_w9_shuffle_shards(spark, sf_dir):
    """Deterministic corpus shuffle (operators/shuffling.py): a seeded
    global permutation materialized as (shard, pos) — the layout a
    training dataloader reads; a pure function of (key, seed), identical
    at any partitioning/parallelism/rerun, re-seeded per epoch. Zero-
    shuffle shard projection + ONE shard-keyed row_number window (each
    task sorts 1/n_shards). md5 mode (60-bit ordering hash) for the
    oracle; xxhash64 is the library default."""
    from taco_toolbox_spark.operators.shuffling import deterministic_shuffle

    d = _t(spark, sf_dir, "documents")
    return deterministic_shuffle(
        d, ["doc_id"], n_shards=4, seed=7, hash_fn="md5"
    ).select("doc_id", "shard", "pos")


def q_t3_robust_outliers(spark, sf_dir):
    """Robust outlier flag (operators/outliers.py:robust_outliers):
    |x − median| > k·MAD per event type — the mean/stddev rule breaks on
    exactly the spikes it should catch; median/MAD does not. method=
    'exact' (type-7 percentile == DuckDB quantile_cont, the equality the
    stats_quantiles oracle already locks); the scale default is the
    mergeable GK sketch with the same plan shape. Two one-row-per-group
    aggregation passes joined back (AQE broadcasts)."""
    from taco_toolbox_spark.operators.outliers import robust_outliers

    ev = _t(spark, sf_dir, "events")
    return robust_outliers(
        ev.select("event_id", "event_type", "value"),
        "value",
        ["event_type"],
        k=3.0,
        method="exact",
    )


def q_t4_winsorize(spark, sf_dir):
    """Per-group quantile clipping (operators/outliers.py:winsorize):
    values clipped into the event type's [p05, p95] — the heavy-tail
    treatment applied before features feed scoring models. NULL values
    stay NULL (greatest/least skip nulls; the operator gates on
    non-null). One group aggregation + one broadcastable join."""
    from taco_toolbox_spark.operators.outliers import winsorize

    ev = _t(spark, sf_dir, "events")
    return winsorize(
        ev.select("event_id", "event_type", "value"),
        "value",
        ["event_type"],
        lo=0.05,
        hi=0.95,
        method="exact",
    )


def q_dedup_clusters_best(spark, sf_dir):
    """Quality-aware canonical election (dedup/cluster.py:canonical_docs
    prefer_col): within each near-dup cluster keep the member with the
    most characters (ties to min id) — "keep the longest copy", the
    curation rule min-id election cannot express. Same star-fixpoint
    closure as dedup_clusters; election is two map-side-combinable
    cluster-keyed aggs (max quality, min id among maxima) — deliberately
    no per-cluster window (a giant cluster would serialize one task).
    Oracle: the shared recursive-CTE closure + the identical election."""
    from taco_toolbox_spark.dedup.cluster import canonical_docs
    from taco_toolbox_spark.dedup.ngram import jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.2)
    return canonical_docs(pairs, d, prefer_col="n_chars")


def q_dedup_soft(spark, sf_dir):
    """Frequency-proportional soft dedup (dedup/soft.py): keep each
    member of an n-copy cluster with probability target_copies/n —
    expected surviving count 1 per cluster — decided by the
    deterministic md5 id hash (sampling.py arithmetic). Cluster key here
    is the 40-char text prefix (the boilerplate-prefix clustering demo;
    the corpus has no full-text exact dups by construction). Full
    keep/drop verdict so the oracle verifies dropped rows too. Plan:
    partial-agg count (mega-clusters cost map tasks one combiner row),
    count join back, zero-shuffle keep predicate."""
    from taco_toolbox_spark.dedup.soft import soft_dedup_verdict

    d = _t(spark, sf_dir, "documents")
    return soft_dedup_verdict(
        d,
        id_col="doc_id",
        target_copies=1,
        seed=0,
        hash_fn="md5",
        group_expr=F.substring("text", 1, 40),
    ).select("doc_id", "n_copies", "kept")


def q_t2_bigram_score(spark, sf_dir):
    """Corpus-bigram quality scoring (operators/lm_score.py:
    bigram_frequency_score): per-doc exact integer stats of its bigrams'
    corpus-wide frequencies — the LM-free perplexity-filter analog (a
    doc whose bigrams are rare in its own corpus is the doc an LM would
    find surprising). Frequency-weighted occurrences, partial-agg corpus
    counts, AQE-skew-safe count join, zeros for sub-2-token docs."""
    from taco_toolbox_spark.operators.lm_score import bigram_frequency_score

    d = _t(spark, sf_dir, "documents")
    return bigram_frequency_score(d, rare_threshold=2)


def _emb_sides(spark, sf_dir):
    """Query/corpus split of the embeddings table for the top-k join
    family: every 100th vector is a query, the rest are the corpus."""
    e = _t(spark, sf_dir, "embeddings")
    return e.filter(F.col("vec_id") % 100 == 0), e.filter(
        F.col("vec_id") % 100 != 0
    )


def q_sim_join_topk(spark, sf_dir):
    """Exact batch top-k similarity JOIN (similarity/join.py:
    cosine_topk_join): k nearest corpus vectors for EVERY query row in
    one corpus scan — the retrieval-eval / contamination-audit shape the
    single-query operators can't serve. Broadcast query side, fold-
    ordered double cosine, round-4, ties by corpus id; per-query top-k
    window. The oracle replays the identical pair scoring + window."""
    from taco_toolbox_spark.similarity.join import cosine_topk_join

    q, c = _emb_sides(spark, sf_dir)
    return cosine_topk_join(q, c, k=5)


def q_sim_join_topk_blocked(spark, sf_dir):
    """The 100-TB path of sim_join_topk (similarity/join.py:
    cosine_topk_join_blocked): per-Arrow-batch cosine matmul in FOLD
    ORDER with HALF-UP rounding, map-side per-query top-k, final window
    over O(batches x |Q| x k) survivors — the shuffle no longer scales
    with the corpus. Bit-identical to the anchor (pytest exact parity),
    so it shares the anchor's oracle verbatim."""
    from taco_toolbox_spark.similarity.join import cosine_topk_join_blocked

    q, c = _emb_sides(spark, sf_dir)
    return cosine_topk_join_blocked(q, c, k=5)


def q_sim_join_lsh(spark, sf_dir):
    """Sublinear candidate path of the top-k join (similarity/join.py:
    lsh_topk_join): band-signature equi-join proposes (query, corpus)
    candidates, exact fold-cosine re-ranks candidates only — the
    pipeline-replica oracle recomputes signatures from the same inlined
    plane literals, so recall is verified, not assumed."""
    from taco_toolbox_spark.similarity.join import lsh_topk_join

    q, c = _emb_sides(spark, sf_dir)
    return lsh_topk_join(q, c, k=5)


def q_a12_gini_diversity(spark, sf_dir):
    """Gini–Simpson diversity per source (operators/distribution.py:
    gini_simpson): probability two documents drawn without replacement
    from a source differ in language — the mixture-health metric for a
    data-mix pipeline. Stays in exact BIGINT rational arithmetic (category
    counts) with ONE double division at the end, so the index reproduces
    bit-for-bit across engines — which Shannon entropy's ln() cannot.
    Plan: two map-side-combined hash aggregations; shuffle volume bounded
    by the (source × lang) vocabulary, never the row count."""
    from taco_toolbox_spark.operators.distribution import gini_simpson

    d = _t(spark, sf_dir, "documents")
    return gini_simpson(d, "lang", ["source"])


def q_s5_split_leakage(spark, sf_dir):
    """Split-leakage audit (dedup/cluster.py:split_leakage_violations):
    the near-dup pairs whose endpoints landed in DIFFERENT train/val/test
    splits under a doc-keyed hash split — the exact witness rows for the
    leak the cluster-keyed s4_leakage_split prevents. Checking EDGES is
    complete (any straddling path crosses a straddling edge), so no
    closure fixpoint runs: two id-keyed joins of the pair frame against
    the split projection. The doc-keyed split is intentionally the leaky
    one, so this query demonstrates nonzero violations; s4's construction
    yields zero by design (locked in pytest)."""
    from taco_toolbox_spark.dedup.cluster import split_leakage_violations
    from taco_toolbox_spark.dedup.ngram import jaccard_pairs
    from taco_toolbox_spark.operators.sampling import hash_split

    d = _t(spark, sf_dir, "documents")
    pairs = jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.2)
    labeled = hash_split(
        d, ["doc_id"], {"train": 0.8, "val": 0.1, "test": 0.1},
        seed=7, hash_fn="md5",
    )
    return split_leakage_violations(labeled, pairs)


def q_m1_content_digest(spark, sf_dir):
    """Order-insensitive per-partition content digest
    (operators/digest.py:content_digest) of the transcript corpus — the
    proof a validation engine issues that a REWRITE of a blessed corpus
    (consolidation S10, re-sharding, engine migration, resume-after-crash)
    is still the same corpus: per ``part``, (row count, bit_xor of row
    hashes, sum of row hashes mod 2^40). One map-side-combinable hash
    aggregation over a projection — no window, no collect; the shuffle
    carries one partial digest per (part, task), so 10^12 turns cost one
    pass and a vocabulary-sized exchange. md5 portability mode: the oracle
    replays the identical hash arithmetic (10-hex-char prefix = 40 bits,
    chr(31) separators, chr(0) NULL sentinel) and both commutative
    combiners in DuckDB, so every digest VALUE — not just the row set —
    is cross-engine verified. Reference analog: the validator's
    row-count/schema consistency gates (tortilla/datamodel.py:212-254)
    upgraded to content equality without row comparison."""
    from taco_toolbox_spark.datagen import generate_transcripts
    from taco_toolbox_spark.operators.digest import content_digest

    corpus = generate_transcripts(
        spark, n_convs=500, seed=42, violation_denom=500
    )
    _write_verdict_dump(spark)
    return content_digest(
        corpus.corrupted,
        ["conv_id", "turn_idx", "role", "text"],
        ["part"],
        hash_fn="md5",
    )


def q_m2_dup_convs(spark, sf_dir):
    """Conversation-grain exact dedup
    (operators/digest.py:duplicate_conversation_groups): groups of
    conversations whose whole (turn_idx, role, text) turn sequence is
    identical — document exact-dedup (dedup/exact.py) lifted to the
    transcripts grain without ever rendering a conversation string or
    collect_list-ing turns. The digest's commutative combiners still
    certify SEQUENCE equality because turn order is encoded in the hashed
    tuple. Duplicates are planted by unioning a deterministic relabeled
    subset (conv_ids ending in '7'), so the query demonstrably returns
    nonzero groups; the oracle recomputes per-conversation digests with
    the same md5 arithmetic and groups them. Two bounded shuffles: digest
    partials, then digest-keyed grouping over conversation-count rows."""
    from taco_toolbox_spark.datagen import generate_transcripts
    from taco_toolbox_spark.operators.digest import (
        duplicate_conversation_groups,
    )

    corpus = generate_transcripts(
        spark, n_convs=500, seed=42, violation_denom=500
    )
    _write_verdict_dump(spark)
    t = corpus.corrupted.select("conv_id", "turn_idx", "role", "text")
    planted = t.unionAll(
        t.filter(F.col("conv_id").endswith("7")).withColumn(
            "conv_id", F.concat(F.col("conv_id"), F.lit("_dup"))
        )
    )
    groups = duplicate_conversation_groups(
        planted, "conv_id", "turn_idx", ("role", "text"), hash_fn="md5"
    )
    return groups.select(
        "n_turns",
        "xor_d",
        "sum_d",
        "n_convs",
        F.array_join("conv_ids", ",").alias("conv_ids"),
    )


def q_stream_digest(spark, sf_dir):
    """STREAMING content digest under the full value oracle: the
    documents table is staged as a file-stream source and digested by the
    running streaming aggregation (streaming/validate_stream.py:
    stream_content_digest) in complete mode — whose final emission must
    equal the batch digest of the same data, which the DuckDB oracle
    recomputes from scratch (md5 row hashes, bit_xor, sum mod 2^40).
    The ingest-certification contract held to the same
    rows+schema+hash gate as every batch query."""
    from taco_toolbox_spark.streaming.validate_stream import (
        drain,
        stream_content_digest,
    )

    staged = _stage_stream(spark, sf_dir, "documents", "docs_digest")
    return drain(
        spark,
        staged,
        lambda s: stream_content_digest(
            s, ["doc_id", "text", "lang", "source"], ["source"], hash_fn="md5"
        ),
        "complete",
        4,
    )


def q_stream_digest_windowed(spark, sf_dir):
    """STREAMING windowed digest under the full value oracle: the events
    table streams through per-event-time-DAY digest windows (watermarked
    — the unbounded-stream form, state bounded by open windows), and
    each emitted (window_start, event_type) digest must equal the batch
    digest of that day's slice, which the oracle recomputes with
    date_trunc + the same md5 arithmetic. Doubles are excluded from the
    hashed tuple by design: the digest contract hashes exact
    (string/int) renderings, and float-to-string formats are the one
    place engines legitimately disagree."""
    from taco_toolbox_spark.streaming.validate_stream import (
        drain,
        stream_content_digest,
    )

    staged = _stage_stream(spark, sf_dir, "events", "events_digest")
    return drain(
        spark,
        staged,
        lambda s: stream_content_digest(
            s, ["event_id", "user_id", "props"], ["event_type"],
            hash_fn="md5", window="1 day",
        ),
        "complete",
        4,
    )


def q_w11_burst_rate(spark, sf_dir):
    """Trailing time-window rate rule (RANGE-frame window — the time-frame
    sibling of the engine's row-frame ordering windows): flag every event
    whose user produced more than 8 events in the trailing 86400s. One
    shuffle on the key, one sort, no self-join
    (operators/rolling.py:burst_violations); the frame keys on the
    truncated epoch second, so rows sharing a second share one frame and
    the count is independent of intra-second order — the property that
    lets DuckDB reproduce it bit-for-bit via floor(epoch(ts))."""
    from taco_toolbox_spark.operators.rolling import burst_violations

    ev = _t(spark, sf_dir, "events")
    return burst_violations(
        ev, ["user_id"], max_events=8, ts_col="ts", seconds=86400
    )


def q_w11_burst_rate_chunked(spark, sf_dir):
    """The skew-proof path of the trailing rate rule: same rule as
    w11_burst_rate, but evaluated with ``chunk_seconds`` — every key
    pre-split by coarse time bucket, boundary reconciled by ghost-row
    bin replication (operators/rolling.py module docstring), so one hot
    key's window sort shrinks from its full history to one bucket. The
    oracle is deliberately the PLAIN window SQL: the chunked rewrite
    must be bit-identical to the un-split frame, and DuckDB never sees
    the buckets."""
    from taco_toolbox_spark.operators.rolling import burst_violations

    ev = _t(spark, sf_dir, "events")
    return burst_violations(
        ev, ["user_id"], max_events=8, ts_col="ts", seconds=86400,
        chunk_seconds=7 * 86400,
    )


def q_w12_stuck_runs(spark, sf_dir):
    """Run-length (gaps-and-islands) rule — the EQUALITY-run member of
    the window family (w4 orders, w11 rates, w12 runs): flag every event
    past position 2 of a run of consecutive identical event_type values
    per user under stable (ts, event_id) order (stuck-sensor / looping-
    agent / template-storm detection — every adjacent pair inside a run
    is "equal", which no gap/monotone/rate rule forbids). Two stacked
    Window operators on ONE exchange and ONE sort
    (operators/runs.py:stuck_runs; plan locked by
    test_stuck_runs_one_exchange_one_sort); only OVERFLOW rows fire, so
    dropping exactly the flagged rows satisfies the rule. DuckDB replays
    the identical two-window identity (IS DISTINCT FROM = the null-safe
    start marker)."""
    from taco_toolbox_spark.operators.runs import stuck_runs

    ev = _t(spark, sf_dir, "events")
    return stuck_runs(
        ev, ["user_id"], ["ts", "event_id"], "event_type", max_run=2
    )


def q_d9_groupsize_drift(spark, sf_dir):
    """Drift on a DERIVED grain — the distribution of GROUP SIZES, not of
    any row column (conversations getting shorter / orders shrinking in
    one partition is invisible to every row-level drift check): order
    line-counts per month vs the corpus-wide size distribution, scored
    with the exact categorical-TV machinery (checks/drift.py:
    categorical_tv) applied to the group-size frame. Two aggregations
    total: one groupBy(order) count (map-side combined), one grouped
    count inside the TV — the pattern for any group-grain drift
    (turns-per-conversation, events-per-user)."""
    from taco_toolbox_spark.checks.drift import (
        categorical_counts,
        categorical_tv,
    )

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    sizes = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n"))
    sz = sizes.join(
        o.select(
            F.col("o_orderkey").alias("l_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        ),
        "l_orderkey",
    ).withColumn("size_cat", F.col("n").cast("string"))
    base = categorical_counts(sz, "size_cat")
    return categorical_tv(sz, "size_cat", "month", base).select(
        F.col("part").alias("month"), "n_part", "tv_num", "tv"
    )


def q_d10_gap_drift(spark, sf_dir):
    """Inter-arrival-time drift — the TEMPORAL-TEXTURE member of the
    drift family: per-day total-variation of the distribution of gaps
    between a user's consecutive events vs the corpus-wide gap
    distribution. Batch replays, bot cadence, and retry storms change
    the gap texture while every marginal (counts, values, categories)
    and even the transition matrix stay intact. Gaps derive from ONE lag
    window keyed by user under stable (ts, event_id) order (d7's
    convention: a gap is attributed to the day of the row that COMPLETES
    it), truncated-second integer differences bucketed by CASE
    thresholds (engine-portable — no float log), then the exact
    categorical-TV machinery. Another derived-grain composition like d9."""
    from taco_toolbox_spark.checks.drift import (
        categorical_counts,
        categorical_tv,
    )
    from pyspark.sql import Window

    from taco_toolbox_spark.operators._time import epoch_seconds

    ev = _t(spark, sf_dir, "events")
    e = F.floor(epoch_seconds(ev, "ts")).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.withColumn("_gap", e - F.lag(e).over(w))
        .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .filter(F.col("_gap").isNotNull())
        .withColumn(
            "gap_cat",
            F.when(F.col("_gap") < 60, "lt_1m")
            .when(F.col("_gap") < 3600, "lt_1h")
            .when(F.col("_gap") < 86400, "lt_1d")
            .otherwise("ge_1d"),
        )
    )
    base = categorical_counts(gaps, "gap_cat")
    return categorical_tv(gaps, "gap_cat", "day", base).select(
        F.col("part").alias("day"), "n_part", "tv_num", "tv"
    )


def q_d11_runlength_drift(spark, sf_dir):
    """Run-length drift — the REPETITIVENESS-texture member of the drift
    family: per-day total-variation of the distribution of run LENGTHS
    (consecutive identical event_type per user under stable (ts,
    event_id) order) vs the corpus-wide run-length distribution. A
    template generator, a stuck upstream, or a looping agent shifts how
    long runs get while the category marginal (d2), the transition
    matrix (d7), and the gap texture (d10) can all stay intact — runs
    are the one sequential statistic none of them see. One run-grain
    frame from operators/runs.py:run_lengths (two stacked windows + one
    exchange-reusing aggregation; a run is attributed to the day of its
    STARTING row — order is non-decreasing within a run, so min(ts) is
    deterministic), then the exact categorical-TV machinery — another
    derived-grain composition like d9 (group sizes) and d10 (gaps)."""
    from taco_toolbox_spark.checks.drift import (
        categorical_counts,
        categorical_tv,
    )
    from taco_toolbox_spark.operators.runs import run_lengths

    ev = _t(spark, sf_dir, "events")
    rl = (
        run_lengths(ev, ["user_id"], ["ts", "event_id"], "event_type")
        .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .withColumn("len_cat", F.col("run_len").cast("string"))
    )
    base = categorical_counts(rl, "len_cat")
    return categorical_tv(rl, "len_cat", "day", base).select(
        F.col("part").alias("day"), "n_part", "tv_num", "tv"
    )


def q_d12_volume_anomaly(spark, sf_dir):
    """Partition VOLUME anomaly — the first member of the partition-
    health trio (checks/health.py): per-day row counts judged against
    the run's own robust median±3·MAD band. An upstream outage or a
    double-delivery changes how MUCH data a day carries while every
    row-level rule, marginal, and sequence statistic stays intact — the
    failure class invisible to checks that look inside rows. ONE grouped
    count (map-side partial agg, one row per partition out), then two
    whole-frame windows over that tiny profile frame sharing a single
    single-partition exchange. Exact: integer counts; the median is the
    exact interpolated percentile (Spark percentile == DuckDB
    quantile_cont bit-for-bit on integer inputs); MAD values are halves
    at worst — every band and verdict replays exactly in an independent
    engine."""
    from taco_toolbox_spark.checks.health import volume_anomaly

    ev = _t(spark, sf_dir, "events")
    return volume_anomaly(
        ev, F.date_format("ts", "yyyy-MM-dd"), k=3.0
    ).select(F.col("part").alias("day"), "n", "med", "mad", "dev", "is_anomaly")


def q_d13_completeness_drift(spark, sf_dir):
    """Partition COMPLETENESS drift — the second member of the
    partition-health trio: per-day NULL fraction of a validity
    expression vs the corpus-wide fraction, both from ONE grouped
    aggregation (the baseline is whole-frame window sums over the same
    tiny profile — zero extra scans, the self-calibrating mode a first
    run uses before a blessed baseline exists). The validity expression
    here marks non-purchase events as valid, so the per-day 'null
    fraction' is the purchase share — a real drifting quantity in the
    corpus. Exact: integer counts, ONE float division per fraction,
    strict-greater tolerance — bit-for-bit reproducible."""
    from taco_toolbox_spark.checks.health import completeness_drift

    ev = _t(spark, sf_dir, "events")
    return completeness_drift(
        ev,
        F.date_format("ts", "yyyy-MM-dd"),
        F.expr("CASE WHEN event_type <> 'purchase' THEN 1 END"),
        tol=0.02,
    ).select(
        F.col("part").alias("day"),
        "n",
        "n_valid",
        "null_frac",
        "base_frac",
        "delta",
        "is_drift",
    )


def q_d15_seasonal_volume(spark, sf_dir):
    """SEASONAL volume anomaly — the weekly-rhythm form of d12: the
    robust band is computed WITHIN each ISO day-of-week class (band
    windows partition by the class over the one-row-per-partition
    profile — still one exchange of kilobytes), so a legitimate Sunday
    trough stops paging and a broken Sunday that merely looks like a
    weekday starts. Spark `weekday(to_date(part)) + 1` == DuckDB
    `date_part('isodow', …)` (both 1..7 Monday-anchored), and the
    class-partitioned exact percentile replays bit-for-bit — the flag
    set genuinely differs from d12's on this corpus (checks/health.py:
    volume_anomaly(season_expr=…))."""
    from taco_toolbox_spark.checks.health import volume_anomaly

    ev = _t(spark, sf_dir, "events")
    return volume_anomaly(
        ev,
        F.date_format("ts", "yyyy-MM-dd"),
        k=3.0,
        season_expr=(F.weekday(F.to_date("part")) + F.lit(1)).cast("int"),
    ).select(
        F.col("part").alias("day"),
        "season",
        "n",
        "med",
        "mad",
        "dev",
        "is_anomaly",
    )


def q_d16_volume_vs_history(spark, sf_dir):
    """Volume anomaly judged against a HISTORICAL band — the fix for the
    self-calibrated band's one blind spot: when EVERY partition of a run
    shrinks together (a global upstream outage), the run's own median
    shrinks with it and d12 sees a healthy run; judged against history,
    everything fires. Here the first 20 days of the events table play
    the blessed history (in production: `checkpoint.
    volume_history_from_manifest` — every validation run already records
    per-partition n_rows) and the last days are the run under judgment.
    The band is ONE row broadcast onto the current profile; both sides
    are partition-count-sized (checks/health.py:
    volume_anomaly_vs_history)."""
    from taco_toolbox_spark.checks.health import volume_anomaly_vs_history

    ev = _t(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd")
    hist = ev.filter(day < "2024-01-21")
    cur = ev.filter(day >= "2024-01-21")
    from taco_toolbox_spark.checks.health import partition_profile

    history = partition_profile(hist, day)
    return volume_anomaly_vs_history(cur, day, history, k=3.0).select(
        F.col("part").alias("day"), "n", "med", "mad", "dev", "is_anomaly"
    )


def q_d17_cardinality_vs_history(spark, sf_dir):
    """Cardinality judged against a HISTORICAL band — the cardinality
    twin of d16 (checks/health.py:cardinality_anomaly_vs_history): the
    first 20 days' per-day distinct-user counts play the blessed
    history, the last days' EXACT distincts are judged against that
    band. Closes the global id-mapping blind spot (every partition's key
    space collapsing together moves the run's own median with it). Band
    broadcast as one row; both sides partition-count-sized."""
    from taco_toolbox_spark.checks.health import (
        cardinality_anomaly_vs_history,
        partition_profile,
    )

    ev = _t(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd")
    history = partition_profile(
        ev.filter(day < "2024-01-21"), day, distinct={"u": "user_id"}
    ).select("part", F.col("d_u").alias("n"))
    return cardinality_anomaly_vs_history(
        ev.filter(day >= "2024-01-21"), day, "user_id", history, k=3.0
    ).select(
        F.col("part").alias("day"),
        "n",
        "n_distinct",
        "med",
        "mad",
        "dev",
        "is_anomaly",
    )


def q_d14_cardinality_anomaly(spark, sf_dir):
    """Partition CARDINALITY anomaly — the third member of the
    partition-health trio: per-day EXACT distinct user count judged
    against the robust median±3·MAD band. Distinct-users-per-day
    collapsing means an id-mapping bug; exploding means a fan-out join —
    both invisible to every other rule (counts intact, values in-vocab,
    order fine). With the key set to a content fingerprint the same
    check is a per-partition duplicate-rate monitor. One grouped
    aggregation with a single distinct aggregate (two-phase partial
    distinct, NO Expand — locked by tests/test_health.py), then the
    shared band windows."""
    from taco_toolbox_spark.checks.health import cardinality_anomaly

    ev = _t(spark, sf_dir, "events")
    return cardinality_anomaly(
        ev, F.date_format("ts", "yyyy-MM-dd"), "user_id", k=3.0
    ).select(
        F.col("part").alias("day"),
        "n",
        "n_distinct",
        "med",
        "mad",
        "dev",
        "is_anomaly",
    )


def q_w13_loop_detect(spark, sf_dir):
    """Periodic-loop detection — the PERIOD-p member of the window
    family: one row per maximal period-2 stretch (every event_type
    null-safe equal to the value two rows earlier, per user under stable
    (ts, event_id) order) with at least 2 full motif repetitions. The
    ping-pong failure mode — an agent alternating between two tools
    (a b a b a b), a retry pair, a two-state template rotation — is
    invisible to every other sequential rule: adjacent pairs all differ
    (no run, w12), gaps can be regular (no d10 signal), and the
    transition matrix (a10) only sees the marginal a->b mass, not that
    one group loops contiguously. operators/runs.py:periodic_runs: two
    stacked Windows (lag-2 continuing indicator, then a running max over
    the non-continuing rows — the islands kernel the run rule shares at
    period 1) + an exchange-reusing island aggregation on ONE shuffle;
    emits the stretch's first-row order tuple (carried through the
    island via min_by on lag(struct, p)), total length, and floor(len/p)
    repetitions. DuckDB replays the identical lag-2 indicator -> island
    -> min_by pipeline."""
    from taco_toolbox_spark.operators.runs import periodic_runs

    ev = _t(spark, sf_dir, "events")
    return periodic_runs(
        ev, ["user_id"], ["ts", "event_id"], "event_type",
        period=2, min_reps=2,
    )


def q_diag_key_skew(spark, sf_dir):
    """Pre-flight key-skew diagnosis (skew.py:key_skew_report): the 10
    heaviest user_id values with exact counts and skew factor
    n·n_keys/n_rows — the number that decides whether a planned
    groupBy/join key needs salting and how many buckets. One grouped
    count (map-side partial agg) + a broadcast 1-row summary +
    TakeOrderedAndProject; deterministic (count desc, key asc) tiebreak
    so an independent engine returns identical rows."""
    from taco_toolbox_spark.skew import key_skew_report

    ev = _t(spark, sf_dir, "events")
    return key_skew_report(ev, ["user_id"], top_k=10)


def q_stream_burst(spark, sf_dir):
    """STREAMING trailing-rate rule under the full value oracle: the
    events table streams keyed by user (each user confined to one staged
    file, so arrival order is event-time order per key) and every event
    whose user exceeded 8 events in the trailing day is emitted LIVE
    with its exact trailing count — the stateful twin of w11_burst_rate
    (streaming/validate_stream.py:stream_rate_violations: per-key state
    is the in-window second array, counts via two vectorized
    searchsorted calls, RANGE-frame same-second-peer semantics). The
    oracle is the batch RANGE window in SQL — identical rows."""
    from taco_toolbox_spark.streaming.validate_stream import (
        drain,
        stream_rate_violations,
    )

    staged = _stage_stream(
        spark, sf_dir, "events", "events_burst",
        build=lambda df: df.repartition(8, "user_id"),
    )
    return drain(
        spark,
        staged,
        lambda s: stream_rate_violations(
            s, "user_id", "ts", seconds=86400, max_events=8
        ),
        "update",
    ).select(F.col("user_id").cast("long").alias("user_id"), "ts", "n_trailing")


def q_stream_runs(spark, sf_dir):
    """STREAMING run-length rule under the full value oracle: the events
    table streams keyed by user (each user confined to one staged file,
    so arrival order is event-time order per key) and every event past
    position 2 of a run of consecutive identical event_type values is
    emitted LIVE with its exact run position — the stateful twin of
    w12_stuck_runs (streaming/validate_stream.py:stream_run_violations,
    the period-1 call of the periodic-loop emitter: per-key state is
    O(1) — the last value + the continuing-run length — with a
    vectorized numpy lag-compare + cumulative-max per micro-batch). The
    oracle is the batch gaps-and-islands identity in SQL — identical
    rows."""
    from taco_toolbox_spark.streaming.validate_stream import (
        drain,
        stream_run_violations,
    )

    staged = _stage_stream(
        spark, sf_dir, "events", "events_runs",
        build=lambda df: df.repartition(8, "user_id"),
    )
    return drain(
        spark,
        staged,
        lambda s: stream_run_violations(
            s, "user_id", ["ts", "event_id"], "event_type", max_run=2
        ),
        "update",
    ).select(
        F.col("user_id").cast("long").alias("user_id"),
        "ts",
        "event_id",
        "event_type",
        "run_pos",
    )


def q_stream_pingpong(spark, sf_dir):
    """STREAMING periodic-loop rule under the full value oracle: the
    events table streams keyed by user (each user confined to one staged
    file, so arrival order is event-time order per key) and every event
    extending a period-2 stretch (event_type equal to the value two rows
    earlier) past 2 full motif repetitions is emitted LIVE with its
    exact stretch position — the stateful twin of the engine's
    PeriodicLoopCheck and of operators/runs.py:periodic_overflow
    (streaming/validate_stream.py:stream_periodic_violations: per-key
    state is O(period) — last p values + continuing-run length — with
    vectorized numpy lag-compare + cumulative-max islands per
    micro-batch). The oracle is the batch island identity in SQL —
    identical rows."""
    from taco_toolbox_spark.streaming.validate_stream import (
        drain,
        stream_periodic_violations,
    )

    staged = _stage_stream(
        spark, sf_dir, "events", "events_pingpong",
        build=lambda df: df.repartition(8, "user_id"),
    )
    return drain(
        spark,
        staged,
        lambda s: stream_periodic_violations(
            s, "user_id", ["ts", "event_id"], "event_type",
            period=2, max_reps=2,
        ),
        "update",
    ).select(
        F.col("user_id").cast("long").alias("user_id"),
        "ts",
        "event_id",
        "event_type",
        "stretch_pos",
    )


def q_stream_cat_drift(spark, sf_dir):
    """STREAMING categorical drift under the full value oracle: the
    events table streams through watermarked per-event-time-DAY windows,
    and each window's event_type distribution is scored against the
    corpus-wide histogram with the EXACT total-variation arithmetic of
    the batch check (d2_cat_drift) — integer cross-multiplied terms,
    BIGINT sum, ONE float division — so the DuckDB oracle reproduces
    every (window, n, tv_num, tv) row bit-for-bit. Completes the
    batch<->stream drift matrix: quantile drift already streams
    (stream_drift); this is its categorical sibling
    (streaming/validate_stream.py:stream_categorical_tv)."""
    from taco_toolbox_spark.checks.drift import categorical_counts
    from taco_toolbox_spark.streaming.validate_stream import (
        drain,
        stream_categorical_tv,
    )

    staged = _stage_stream(spark, sf_dir, "events", "events_catdrift")
    base = categorical_counts(spark.read.parquet(staged), "event_type")
    return drain(
        spark,
        staged,
        lambda s: stream_categorical_tv(
            s, "event_type", base, window="1 day", watermark="2 days"
        ),
        "complete",
        4,
    ).select("window_start", "n_win", "tv_num", "tv")


def q_stream_cond_drift(spark, sf_dir):
    """STREAMING conditional-distribution drift under the full value
    oracle: the events table streams through watermarked per-day windows
    and each (window, event_type) cell's P(value_bucket | event_type) is
    scored against the corpus-wide contingency table with the batch
    check's EXACT integer arithmetic (d6_cond_drift) — per-category
    cross-multiplied terms + closed-form novel-category mass, BIGINT sum,
    ONE float division — so DuckDB reproduces every (window, cond, n_win,
    n_base, tv_num, tv) row bit-for-bit. Completes the batch<->stream
    matrix for the categorical-RELATIONSHIP drift member
    (streaming/validate_stream.py:stream_conditional_tv)."""
    from taco_toolbox_spark.checks.drift import conditional_counts
    from taco_toolbox_spark.streaming.validate_stream import (
        drain,
        stream_conditional_tv,
    )

    staged = _stage_stream(spark, sf_dir, "events", "events_conddrift")
    bucket = "CAST(LEAST(CAST(FLOOR(value / 100) AS INT), 4) AS STRING)"
    base = conditional_counts(
        spark.read.parquet(staged), "event_type", bucket
    )
    return drain(
        spark,
        staged,
        lambda s: stream_conditional_tv(
            s, "event_type", bucket, base, window="1 day", watermark="2 days"
        ),
        "complete",
        4,
    ).select("window_start", "cond", "n_win", "n_base", "tv_num", "tv")


def q_stream_corr_drift(spark, sf_dir):
    """STREAMING correlation drift under the full value oracle: per
    watermarked event-time DAY window, the Pearson correlation of
    (second-of-day, value·1000) — d5's integer-quantized pair — against
    an inline stored baseline (0.0, the suite-document mode; a stream
    cannot self-baseline an unbounded window population). The five moment
    sums are DECIMAL-exact and order-independent, with ONE float64
    transition — so DuckDB (HUGEINT sums, identical final expression)
    reproduces every (window, n, corr, corr_base, delta) row bit-for-bit
    INCLUDING the NULL corr of a degenerate window. Completes the
    batch<->stream matrix for the numeric-RELATIONSHIP drift member
    (streaming/validate_stream.py:stream_correlation_drift)."""
    from taco_toolbox_spark.streaming.validate_stream import (
        drain,
        stream_correlation_drift,
    )

    staged = _stage_stream(spark, sf_dir, "events", "events_corrdrift")
    x = "CAST(FLOOR(CAST(CAST(ts AS TIMESTAMP) AS DOUBLE)) AS BIGINT) % 86400"
    y = "CAST(ROUND(value * 1000) AS BIGINT)"
    return drain(
        spark,
        staged,
        lambda s: stream_correlation_drift(
            s, x, y, 0.0, window="1 day", watermark="2 days"
        ),
        "complete",
        4,
    ).select("window_start", "n", "corr", "corr_base", "delta")


def q_stream_emb_drift(spark, sf_dir):
    """STREAMING embedding-centroid drift under the full value oracle:
    the embeddings table streams through per-event-time-DAY windows (the
    table has no timestamp, so event time derives deterministically from
    vec_id — ten windows of ~50 vectors; the oracle replays the identical
    derivation) and each window's centroid is scored against the
    corpus-wide quantized component sums with the batch check's EXACT
    arithmetic (d3_embedding_drift): BIGINT per-dim sums as window state,
    DECIMAL cross/self products, ONE double division + sqrt — so DuckDB
    reproduces every (window, n_vecs, cosine, drift) row bit-for-bit.
    Completes the batch<->stream matrix for the embedding drift member
    (streaming/validate_stream.py:stream_embedding_drift)."""
    from taco_toolbox_spark.checks.drift import embedding_centroid_sums
    from taco_toolbox_spark.streaming.validate_stream import (
        drain,
        stream_embedding_drift,
    )

    staged = _stage_stream(
        spark, sf_dir, "embeddings", "embeddings_embdrift"
    )
    ts_expr = (
        "timestamp '2024-01-01 00:00:00' + make_interval(0, 0, 0, "
        "CAST(vec_id % 10 AS INT), 0, 0, 0)"
    )
    src = spark.read.parquet(staged).withColumn("ts", F.expr(ts_expr))
    base = {
        int(r["dim"]): int(r["g"])
        for r in embedding_centroid_sums(src, "embedding", "ts")
        .groupBy("dim")
        .agg(F.sum("s").alias("g"))
        .collect()
    }
    return drain(
        spark,
        staged,
        lambda s: stream_embedding_drift(
            s.withColumn("ts", F.expr(ts_expr)), "embedding", base,
            window="1 day", watermark="2 days",
        ),
        "complete",
        4,
    ).select(
        "window_start", "n_vecs", "cosine", "drift"
    )


def q_stream_health(spark, sf_dir):
    """STREAMING partition health under the full value oracle: the events
    table streams through watermarked per-event-time-DAY windows; each
    window carries the exact volume verdict (|n − med| > k·MAD against
    the batch-computed band — the batch-computes / stream-consumes
    contract of stream_categorical_tv and stream_drift, since a stream
    cannot self-calibrate an unbounded window population) and the exact
    completeness verdict (the window's null fraction of the validity
    expression vs the batch-computed corpus fraction). The DuckDB oracle
    reproduces every (window, n, band, fractions, flags) row bit-for-bit
    by replaying the identical quantile_cont band and float arithmetic
    (streaming/validate_stream.py:stream_health). Completes the
    batch<->stream matrix for the health family (d12/d13); cardinality
    deliberately stays batch-exact-only — an exact per-window distinct
    needs the full key set as state (the stream offers the HLL
    approximation, excluded from the value oracle by construction)."""
    from taco_toolbox_spark.streaming.validate_stream import (
        drain,
        stream_health,
        stream_health_baseline,
    )

    staged = _stage_stream(spark, sf_dir, "events", "events")
    valid = "CASE WHEN event_type <> 'purchase' THEN 1 END"
    baseline = stream_health_baseline(spark.read.parquet(staged), valid)
    return drain(
        spark,
        staged,
        lambda s: stream_health(
            s, window="1 day", watermark="2 days", valid_expr=valid,
            tol=0.02, **baseline,
        ),
        "complete",
        4,
    ).select(
        "window_start",
        "n",
        "n_valid",
        "med",
        "mad",
        "dev",
        "is_anomaly",
        "null_frac",
        "base_frac",
        "delta",
        "is_drift",
    )


def q_digest_documents(spark, sf_dir):
    """Bench-only twin of m1_content_digest at data scale: native
    xxhash64-family content digest of the sf ``documents`` table grouped
    by source — the 100-TB path (one scan, map-side-combined hash
    aggregation, source-vocabulary-sized exchange). Not in queries():
    DuckDB has no xxhash64, so this family is value-verified indirectly —
    the md5 family shares every line of digest code except the row hash
    and is fully oracled by m1_content_digest."""
    from taco_toolbox_spark.operators.digest import content_digest

    d = _t(spark, sf_dir, "documents")
    return content_digest(
        d, ["doc_id", "text", "lang", "source"], ["source"]
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "v1_uniqueness": q_v1_uniqueness,
        "v5_vocab": q_v5_vocab,
        "v9_monotone": q_v9_monotone,
        "v6_contiguity": q_v6_contiguity,
        "v12_refint": q_v12_refint,
        "v10_range": q_v10_range,
        "stats_profile": q_stats_profile,
        "stats_quantiles": q_stats_quantiles,
        "j4_position_pattern": q_j4_position_pattern,
        "extent_by_type": q_extent_by_type,
        "a9_distribution": q_a9_distribution,
        "a4_top1": q_a4_top1,
        "q1_pricing": q_q1_pricing,
        "j3_rollup": q_j3_rollup,
        "j1_broadcast_enrich": q_j1_broadcast_enrich,
        "o4_topk": q_o4_topk,
        "w1_row_position": q_w1_row_position,
        "w1_row_position_global": q_w1_row_position_global,
        "w3_size_bins": q_w3_size_bins,
        "w3_greedy_pack": q_w3_greedy_pack,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_ngram_prefix": q_dedup_ngram_prefix,
        "dedup_substring_run": q_dedup_substring_run,
        "dedup_common_spans": q_dedup_common_spans,
        "text_winnow": q_text_winnow,
        "dedup_winnow_pairs": q_dedup_winnow_pairs,
        "i1_incremental_dedup": q_i1_incremental_dedup,
        "text_distinctive_terms": q_text_distinctive_terms,
        "d1_decontaminate": q_d1_decontaminate,
        "d8_sem_decontaminate": q_d8_sem_decontaminate,
        "dedup_minhash": q_dedup_minhash,
        "dedup_simhash": q_dedup_simhash,
        "sim_topk": q_sim_topk,
        "sim_lsh_topk": q_sim_lsh_topk,
        "sim_ivf_topk": q_sim_ivf_topk,
        "sim_near_dup": q_sim_near_dup,
        "sim_kmeans": q_sim_kmeans,
        "sim_semantic_dedup": q_sim_semantic_dedup,
        "sim_dedup_clusters": q_sim_dedup_clusters,
        "text_stats": q_text_stats,
        "text_repetition": q_text_repetition,
        "text_lang_distribution": q_text_lang_distribution,
        "lang_id": q_lang_id,
        "w4_sessionize": q_w4_sessionize,
        "a7_extent_union": q_a7_extent_union,
        "o1_zorder": q_o1_zorder,
        "a5_extent": q_a5_extent,
        "u1_align_union": q_u1_align_union,
        "pivot_by_day": q_pivot_by_day,
        "skew_salted_agg": q_skew_salted_agg,
        "s1_stratified_sample": q_s1_stratified_sample,
        "s2_sample_k_per_group": q_s2_sample_k_per_group,
        "m1_mixture_sample": q_m1_mixture_sample,
        "m2_weighted_sample": q_m2_weighted_sample,
        "p1_pii_redact": q_p1_pii_redact,
        "j5_asof_join": q_j5_asof_join,
        "j6_range_join": q_j6_range_join,
        "t1_quality_filter": q_t1_quality_filter,
        "stream_sessionize": q_stream_sessionize,
        "stream_dedup": q_stream_dedup,
        "stream_runs": q_stream_runs,
        "stream_minhash_cands": q_stream_minhash_cands,
        "dedup_clusters": q_dedup_clusters,
        "engine_verdicts": q_engine_verdicts,
        "v13_role_seq": q_v13_role_seq,
        "v14_role_close": q_v14_role_close,
        "v15_turn_gap": q_v15_turn_gap,
        "v16_fd_tool_role": q_v16_fd_tool_role,
        "dedup_containment": q_dedup_containment,
        "t5_budget_select": q_t5_budget_select,
        "t6_budget_select_grouped": q_t6_budget_select_grouped,
        "t7_group_percentile": q_t7_group_percentile,
        "d4_profile_drift": q_d4_profile_drift,
        "w10_loss_spans": q_w10_loss_spans,
        "v17_embedding_sanity": q_v17_embedding_sanity,
        "a10_transition_matrix": q_a10_transition_matrix,
        "a11_conv_profile": q_a11_conv_profile,
        "d3_embedding_drift": q_d3_embedding_drift,
        "s3_hash_split": q_s3_hash_split,
        "s4_leakage_split": q_s4_leakage_split,
        "s5_split_leakage": q_s5_split_leakage,
        "a12_gini_diversity": q_a12_gini_diversity,
        "sim_join_topk": q_sim_join_topk,
        "sim_join_topk_blocked": q_sim_join_topk_blocked,
        "sim_join_lsh": q_sim_join_lsh,
        "dedup_soft": q_dedup_soft,
        "t2_bigram_score": q_t2_bigram_score,
        "dedup_clusters_best": q_dedup_clusters_best,
        "t3_robust_outliers": q_t3_robust_outliers,
        "t4_winsorize": q_t4_winsorize,
        "w9_shuffle_shards": q_w9_shuffle_shards,
        "w5_token_truncate": q_w5_token_truncate,
        "d2_cat_drift": q_d2_cat_drift,
        "d4_ks_drift": q_d4_ks_drift,
        "d5_corr_drift": q_d5_corr_drift,
        "d6_cond_drift": q_d6_cond_drift,
        "d7_transition_drift": q_d7_transition_drift,
        "stream_transitions": q_stream_transitions,
        "cms_estimate": q_cms_estimate,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "b1_bloom_contains": q_b1_bloom_contains,
        "w6_reindex_turns": q_w6_reindex_turns,
        "stream_incr_dedup": q_stream_incr_dedup,
        "w7_render_convs": q_w7_render_convs,
        "w8_chunk_windows": q_w8_chunk_windows,
        "m1_content_digest": q_m1_content_digest,
        "m2_dup_convs": q_m2_dup_convs,
        "stream_digest": q_stream_digest,
        "stream_digest_windowed": q_stream_digest_windowed,
        "stream_cat_drift": q_stream_cat_drift,
        "stream_cond_drift": q_stream_cond_drift,
        "stream_corr_drift": q_stream_corr_drift,
        "stream_emb_drift": q_stream_emb_drift,
        "w11_burst_rate": q_w11_burst_rate,
        "w11_burst_rate_chunked": q_w11_burst_rate_chunked,
        "w12_stuck_runs": q_w12_stuck_runs,
        "stream_burst": q_stream_burst,
        "diag_key_skew": q_diag_key_skew,
        "d9_groupsize_drift": q_d9_groupsize_drift,
        "d12_volume_anomaly": q_d12_volume_anomaly,
        "stream_health": q_stream_health,
        "d13_completeness_drift": q_d13_completeness_drift,
        "d15_seasonal_volume": q_d15_seasonal_volume,
        "d16_volume_vs_history": q_d16_volume_vs_history,
        "d17_cardinality_vs_history": q_d17_cardinality_vs_history,
        "d14_cardinality_anomaly": q_d14_cardinality_anomaly,
        "d10_gap_drift": q_d10_gap_drift,
        "d11_runlength_drift": q_d11_runlength_drift,
        "w13_loop_detect": q_w13_loop_detect,
        "stream_pingpong": q_stream_pingpong,
    }


def _kmeans_assign_cte(src_e: str, src_c: str, name: str, keep_d: bool = False) -> str:
    """One k-means assignment round in DuckDB SQL: argmin of the same
    sequential squared-distance fold similarity/cluster.py computes, ties
    to the smaller cluster index."""
    d = (
        f"list_sum(list_transform(range(1,65), "
        f"i -> ({src_e}.v[i] - {src_c}.c[i]) * ({src_e}.v[i] - {src_c}.c[i])))"
    )
    dcol = ", d" if keep_d else ""
    inner_d = f", {d} AS d" if keep_d else ""
    return f"""{name} AS (
      SELECT vec_id, v, cl{dcol} FROM (
        SELECT {src_e}.vec_id, {src_e}.v, {src_c}.cl{inner_d},
               row_number() OVER (PARTITION BY {src_e}.vec_id
                 ORDER BY {d}, {src_c}.cl) AS rn
        FROM {src_e} CROSS JOIN {src_c}) WHERE rn = 1)"""


def _kmeans_update_cte(src_a: str, src_c: str, name: str) -> str:
    """One fixed-point centroid update in DuckDB SQL: per-dim 1e-9-scaled
    floored BIGINT sums (exact, order-independent — the cross-engine
    determinism trick), divided back in float64; empty clusters keep the
    previous centroid via the LEFT JOIN coalesce."""
    return f"""{name} AS (
      SELECT {src_c}.cl, coalesce(u.c, {src_c}.c) AS c
      FROM {src_c} LEFT JOIN (
        SELECT cl, list(cd ORDER BY pos) AS c FROM (
          SELECT cl, pos, (s::DOUBLE / 1000000000.0) / n::DOUBLE AS cd FROM (
            SELECT cl, pos, sum(floor(v[pos] * 1000000000.0)::BIGINT) AS s,
                   count(*) AS n
            FROM {src_a}, range(1, 65) t(pos) GROUP BY cl, pos))
        GROUP BY cl) u ON u.cl = {src_c}.cl)"""


def _kmeans_ctes() -> str:
    """Both Lloyd rounds of q_sim_kmeans unrolled (k=8, n_iter=2,
    smallest-vec_id init), ending at `a2` = final assignment with its
    squared distance."""
    return f"""
        e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
              FROM embeddings),
        c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, v AS c
               FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
        {_kmeans_assign_cte('e', 'c0', 'a0')},
        {_kmeans_update_cte('a0', 'c0', 'c1')},
        {_kmeans_assign_cte('e', 'c1', 'a1')},
        {_kmeans_update_cte('a1', 'c1', 'c2')},
        {_kmeans_assign_cte('e', 'c2', 'a2', keep_d=True)}
    """


def _lsh_pipeline_sql(bands: int = 8, rows_per_band: int = 8, seed: int = 42,
                      dim: int = 64) -> str:
    """Shared DuckDB CTEs replicating the banded-LSH pipeline from
    taco_toolbox_spark.similarity.ann with the IDENTICAL seeded gaussian
    plane matrix (embedded as literals — repr(float) round-trips exactly),
    so the oracle independently recomputes signatures and band collisions
    rather than assuming recall."""
    from taco_toolbox_spark.similarity.ann import lsh_planes

    P = lsh_planes(dim, bands, rows_per_band, seed)
    rows = ",\n".join(
        "(" + str(pid) + ", [" + ", ".join(repr(float(x)) for x in P[pid]) + "])"
        for pid in range(bands * rows_per_band)
    )
    return f"""
        planes(pid, plane) AS (VALUES {rows}),
        dots AS (
          SELECT e.vec_id, p.pid,
                 list_sum(list_transform(range(1, {dim} + 1),
                     i -> e.embedding[i]::DOUBLE * p.plane[i])) AS dot
          FROM embeddings e, planes p
        ),
        sigs AS (
          SELECT vec_id, pid // {rows_per_band} AS band,
                 sum(CASE WHEN dot > 0
                     THEN 1 << (pid % {rows_per_band}) ELSE 0 END)::BIGINT AS sig
          FROM dots GROUP BY 1, 2
        )
    """


def _sim_lsh_topk_oracle() -> str:
    return f"""
        WITH {_lsh_pipeline_sql()},
        qsig AS (SELECT band, sig FROM sigs WHERE vec_id = 0),
        cand AS (
          SELECT DISTINCT s.vec_id
          FROM sigs s JOIN qsig q ON s.band = q.band AND s.sig = q.sig
          WHERE s.vec_id <> 0
        ),
        q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id,
               round(list_sum(list_transform(range(1, 65),
                       i -> e.embedding[i]::DOUBLE * qe[i]::DOUBLE))
                 / (sqrt(list_sum(list_transform(e.embedding,
                       x -> x::DOUBLE * x::DOUBLE)))
                    * sqrt(list_sum(list_transform(qe,
                       x -> x::DOUBLE * x::DOUBLE)))), 4) AS cos
        FROM embeddings e JOIN cand USING (vec_id), q
        ORDER BY cos DESC, vec_id LIMIT 10
    """


#: fold-ordered cosine between a corpus row ``e`` and a query vector
#: column ``qe`` with precomputed query norm ``qn`` — the join-family
#: scoring expression (corpus norm x query norm, one division, round-4)
_JOIN_COS = """round(list_sum(list_transform(range(1, 65),
                   i -> e.embedding[i]::DOUBLE * qe[i]::DOUBLE))
             / (sqrt(list_sum(list_transform(e.embedding,
                   x -> x::DOUBLE * x::DOUBLE))) * qn), 4)"""


def _sim_join_topk_oracle(k: int = 5) -> str:
    """Exact batch top-k join replica: every-100th vector is a query,
    the rest the corpus; all pairs scored with the fold cosine, per-query
    row_number window (cos DESC, vec_id) <= k. Shared verbatim by the
    anchor and the blocked scale path (which is pytest-locked
    bit-identical to the anchor)."""
    return f"""
        WITH q AS (
          SELECT vec_id AS query_id, embedding AS qe,
                 sqrt(list_sum(list_transform(embedding,
                      x -> x::DOUBLE * x::DOUBLE))) AS qn
          FROM embeddings WHERE vec_id % 100 = 0
        ),
        scored AS (
          SELECT q.query_id, e.vec_id, {_JOIN_COS} AS cos
          FROM embeddings e, q WHERE e.vec_id % 100 <> 0
        )
        SELECT query_id, vec_id, cos FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, vec_id) AS rn
          FROM scored
        ) WHERE rn <= {k}
    """


def _sim_join_lsh_oracle(k: int = 5, max_bucket: int = 10_000) -> str:
    """LSH top-k join replica: signatures recomputed from the inlined
    plane literals (_lsh_pipeline_sql), corpus-side bucket cap, candidate
    equi-join on (band, sig), exact fold-cosine re-rank, per-query
    window <= k."""
    return f"""
        WITH {_lsh_pipeline_sql()},
        kept AS (
          SELECT band, sig FROM sigs WHERE vec_id % 100 <> 0
          GROUP BY 1, 2 HAVING count(*) <= {max_bucket}
        ),
        csig AS (
          SELECT s.* FROM sigs s JOIN kept USING (band, sig)
          WHERE s.vec_id % 100 <> 0
        ),
        qsig AS (SELECT * FROM sigs WHERE vec_id % 100 = 0),
        cand AS (
          SELECT DISTINCT q.vec_id AS query_id, c.vec_id
          FROM qsig q JOIN csig c ON q.band = c.band AND q.sig = c.sig
        ),
        scored AS (
          SELECT cand.query_id, e.vec_id, {_JOIN_COS} AS cos
          FROM cand
          JOIN embeddings e ON e.vec_id = cand.vec_id
          JOIN (SELECT vec_id, embedding AS qe,
                       sqrt(list_sum(list_transform(embedding,
                            x -> x::DOUBLE * x::DOUBLE))) AS qn
                FROM embeddings) qv ON qv.vec_id = cand.query_id
        )
        SELECT query_id, vec_id, cos FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, vec_id) AS rn
          FROM scored
        ) WHERE rn <= {k}
    """


def _sim_pair_ctes(threshold: float = 0.4, max_bucket: int = 10_000) -> str:
    """Banded-LSH near-dup pair CTEs ending in ``sim_pairs`` (id_a, id_b,
    cos) — shared by the sim_near_dup oracle and the sim_dedup_clusters
    closure oracle."""
    return f"""{_lsh_pipeline_sql()},
        kept AS (
          SELECT band, sig FROM sigs GROUP BY 1, 2
          HAVING count(*) <= {max_bucket}
        ),
        ksigs AS (SELECT s.* FROM sigs s JOIN kept USING (band, sig)),
        cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM ksigs a JOIN ksigs b
            ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
        ),
        sim_pairs AS (
          SELECT * FROM (
            SELECT id_a, id_b,
                   round(list_sum(list_transform(range(1, 65),
                           i -> ea.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE))
                     / (sqrt(list_sum(list_transform(ea.embedding,
                           x -> x::DOUBLE * x::DOUBLE)))
                        * sqrt(list_sum(list_transform(eb.embedding,
                           x -> x::DOUBLE * x::DOUBLE)))), 4) AS cos
            FROM cand
            JOIN embeddings ea ON ea.vec_id = id_a
            JOIN embeddings eb ON eb.vec_id = id_b
          ) WHERE cos >= {threshold}
        )"""


def _sim_near_dup_oracle(threshold: float = 0.4, max_bucket: int = 10_000) -> str:
    return f"""
        WITH {_sim_pair_ctes(threshold, max_bucket)}
        SELECT id_a, id_b, cos FROM sim_pairs
    """


def _sim_dedup_clusters_oracle(
    threshold: float = 0.4, max_bucket: int = 10_000
) -> str:
    """Recursive-CTE closure of the LSH near-dup pair graph, left-joined
    onto all embeddings — the embedding-side twin of
    _dedup_clusters_oracle."""
    return f"""
        WITH RECURSIVE {_sim_pair_ctes(threshold, max_bucket)},
        ud AS (
          SELECT id_a AS a, id_b AS b FROM sim_pairs
          UNION SELECT id_b, id_a FROM sim_pairs
        ),
        nodes AS (SELECT DISTINCT a AS n FROM ud),
        reach(n, r) AS (
          SELECT n, n FROM nodes
          UNION
          SELECT ud.b, reach.r FROM reach JOIN ud ON ud.a = reach.n
        ),
        comp AS (SELECT n AS vec_id, min(r) AS cluster_id
                 FROM reach GROUP BY 1)
        SELECT e.vec_id,
               coalesce(c.cluster_id, e.vec_id) AS cluster_id,
               coalesce(c.cluster_id, e.vec_id) = e.vec_id AS is_canonical
        FROM embeddings e LEFT JOIN comp c USING (vec_id)
    """


def _shingle_ctes(max_shingle_freq: int | None) -> str:
    """Shared DuckDB CTEs: distinct 3-gram shingles per doc (mirror of
    dedup.ngram.shingles), optional frequency cap."""
    cap = (
        f"""sh AS (
              SELECT sh0.* FROM sh0
              JOIN (SELECT s FROM sh0 GROUP BY s
                    HAVING count(*) <= {max_shingle_freq}) keep USING (s)
            )"""
        if max_shingle_freq is not None
        else "sh AS (SELECT * FROM sh0)"
    )
    return f"""
            tok AS (
              SELECT doc_id, string_split(text, ' ') w FROM documents
              WHERE len(string_split(text, ' ')) >= 3
            ),
            sh0 AS (
              SELECT DISTINCT doc_id,
                     unnest(list_transform(range(1, len(w) - 1),
                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) s
              FROM tok
            ),
            {cap}
    """


def _minhash_cand_ctes(
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket: int = 10_000,
) -> str:
    """DuckDB CTE chain replicating the md5-mode minhash CANDIDATE stage
    (shingles -> one-md5 halves -> permutation minima -> band buckets ->
    bucket cap -> distinct candidate pairs id_a < id_b) — shared by the
    batch pipeline oracle (which appends exact-Jaccard verification) and
    the streaming candidate-emitter oracle (which stops at `cand`, the
    exact surface stream_minhash_candidates emits)."""
    from taco_toolbox_spark.dedup.minhash import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_C,
        MINHASH_P,
    )

    r = num_hashes // bands
    mins = ",\n                   ".join(
        f"min((({MINHASH_A[i]}*h1) % {MINHASH_P} + "
        f"({MINHASH_B[i]}*h2) % {MINHASH_P} + {MINHASH_C[i]}) % {MINHASH_P})"
        f" AS h{i}"
        for i in range(num_hashes)
    )
    band_rows = "\n              UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat_ws(',', "
        + ", ".join(f"h{b * r + j}" for j in range(r))
        + ") AS bucket FROM mins"
        for b in range(bands)
    )
    return f"""{_shingle_ctes(None)},
            shh AS (
              SELECT doc_id,
                     ('0x' || substr(md5(s), 1, 8))::BIGINT AS h1,
                     ('0x' || substr(md5(s), 9, 8))::BIGINT AS h2
              FROM sh
            ),
            mins AS (
              SELECT doc_id,
                   {mins}
              FROM shh GROUP BY doc_id
            ),
            buckets AS (
              {band_rows}
            ),
            kept AS (
              SELECT band, bucket FROM buckets
              GROUP BY 1, 2 HAVING count(*) <= {max_bucket}
            ),
            bk AS (SELECT buckets.* FROM buckets JOIN kept USING (band, bucket)),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bk a JOIN bk b
                ON a.band = b.band AND a.bucket = b.bucket
               AND a.doc_id < b.doc_id
            )"""


def _minhash_oracle(
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.2,
    max_bucket: int = 10_000,
) -> str:
    """Full pipeline replica of dedup.minhash.minhash_near_duplicates in
    md5 hash mode: the shared candidate CTE chain (_minhash_cand_ctes)
    plus exact-Jaccard verification restricted to candidates. Unlike an
    exact-Jaccard oracle, this checks the banding's actual recall and
    precision with no corpus-dependent collision assumption."""
    return f"""
            WITH {_minhash_cand_ctes(num_hashes, bands, max_bucket)},
            sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
            shared AS (
              SELECT c.id_a, c.id_b, count(*) AS shared
              FROM cand c
              JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   shared::DOUBLE / (sa.n + sb.n - shared) AS jaccard
            FROM shared p
            JOIN sizes sa ON p.id_a = sa.doc_id
            JOIN sizes sb ON p.id_b = sb.doc_id
            WHERE shared::DOUBLE / (sa.n + sb.n - shared) >= {threshold}"""


def _simhash_oracle(max_hamming: int = 3, max_bucket: int = 10_000) -> str:
    """Full pipeline replica of dedup.simhash.simhash_near_duplicates in
    md5 hash mode: whitespace tokens, first-64-md5-bits token hash (as two
    32-bit halves — no BIGINT sign traps), per-bit ±1 sums, sign-bit
    fingerprint as four 16-bit chunk keys, chunk-bucket cap, candidate
    pairing, hamming = sum of per-chunk popcounts."""
    bit_sums = ",\n                   ".join(
        f"sum((({'lo' if b < 32 else 'hi'} >> {b % 32}) & 1) * 2 - 1) AS b{b}"
        for b in range(64)
    )
    chunk_keys = ",\n                   ".join(
        "("
        + " + ".join(
            f"(CASE WHEN b{c * 16 + r} > 0 THEN 1::BIGINT << {r} ELSE 0 END)"
            for r in range(16)
        )
        + f") AS k{c}"
        for c in range(4)
    )
    chunk_rows = "\n              UNION ALL ".join(
        f"SELECT doc_id, {c} AS chunk, k{c} AS key FROM cw" for c in range(4)
    )
    ham = " + ".join(f"bit_count(xor(ca.k{c}, cb.k{c}))" for c in range(4))
    return f"""
            WITH tok AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
              FROM documents
            ),
            h AS (
              SELECT doc_id,
                     ('0x' || substr(md5(t), 1, 8))::BIGINT AS hi,
                     ('0x' || substr(md5(t), 9, 8))::BIGINT AS lo
              FROM tok
            ),
            sums AS (
              SELECT doc_id,
                   {bit_sums}
              FROM h GROUP BY doc_id
            ),
            cw AS (
              SELECT doc_id,
                   {chunk_keys}
              FROM sums
            ),
            cl AS (
              {chunk_rows}
            ),
            kept AS (
              SELECT chunk, key FROM cl
              GROUP BY 1, 2 HAVING count(*) <= {max_bucket}
            ),
            clk AS (SELECT cl.* FROM cl JOIN kept USING (chunk, key)),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM clk a JOIN clk b
                ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id
            )
            SELECT id_a, id_b, hamming FROM (
              SELECT id_a, id_b, ({ham})::INT AS hamming
              FROM cand
              JOIN cw ca ON ca.doc_id = id_a
              JOIN cw cb ON cb.doc_id = id_b
            ) WHERE hamming <= {max_hamming}
        """


def _jaccard_oracle(max_shingle_freq: int | None, threshold: float = 0.2) -> str:
    """Exact 3-gram Jaccard pairs in DuckDB, optionally with the same
    shingle-frequency cap the Spark path applies (dedup_ngram_jaccard
    oracle; the minhash oracle is the pipeline replica above)."""
    return f"""
            WITH {_shingle_ctes(max_shingle_freq)},
            sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
            shared AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   shared::DOUBLE / (sa.n + sb.n - shared) AS jaccard
            FROM shared p
            JOIN sizes sa ON p.id_a = sa.doc_id
            JOIN sizes sb ON p.id_b = sb.doc_id
            WHERE shared::DOUBLE / (sa.n + sb.n - shared) >= {threshold}
        """


def _closure_comp_ctes(max_shingle_freq: int = 1000,
                       threshold: float = 0.2) -> str:
    """CTE chain computing ``comp(doc_id, cluster_id)`` — the transitive
    closure of the exact-Jaccard pair graph as a DuckDB recursive CTE
    (min reachable id per node over the symmetrized edges). Shared by the
    dedup_clusters and s4_leakage_split oracles so both verify the SAME
    independent recomputation of dedup/cluster.py's star fixpoint."""
    return f"""
            WITH RECURSIVE {_shingle_ctes(max_shingle_freq)},
            sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
            shared AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            pairs AS (
              SELECT id_a, id_b
              FROM shared p
              JOIN sizes sa ON p.id_a = sa.doc_id
              JOIN sizes sb ON p.id_b = sb.doc_id
              WHERE shared::DOUBLE / (sa.n + sb.n - shared) >= {threshold}
            ),
            ud AS (
              SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs
            ),
            nodes AS (SELECT DISTINCT a AS n FROM ud),
            reach(n, r) AS (
              SELECT n, n FROM nodes
              UNION
              SELECT ud.b, reach.r FROM reach JOIN ud ON ud.a = reach.n
            ),
            comp AS (SELECT n AS doc_id, min(r) AS cluster_id
                     FROM reach GROUP BY 1)
        """


def _dedup_clusters_oracle(max_shingle_freq: int = 1000,
                           threshold: float = 0.2) -> str:
    """Closure CTE left-joined back onto all documents so singletons
    cluster with themselves — the full keep/drop verdict."""
    return f"""{_closure_comp_ctes(max_shingle_freq, threshold)}
            SELECT d.doc_id,
                   coalesce(c.cluster_id, d.doc_id) AS cluster_id,
                   coalesce(c.cluster_id, d.doc_id) = d.doc_id
                     AS is_canonical
            FROM documents d LEFT JOIN comp c USING (doc_id)
        """


def _dedup_clusters_best_oracle(max_shingle_freq: int = 1000,
                                threshold: float = 0.2) -> str:
    """Quality-aware election over the shared closure: max n_chars per
    cluster, min doc_id among the maxima (IS NOT DISTINCT FROM keeps the
    all-NULL-cluster fallback identical to the Spark eqNullSafe)."""
    return f"""{_closure_comp_ctes(max_shingle_freq, threshold)},
            lab AS (
              SELECT d.doc_id,
                     coalesce(c.cluster_id, d.doc_id) AS cluster_id,
                     d.n_chars
              FROM documents d LEFT JOIN comp c USING (doc_id)
            ),
            best AS (
              SELECT cluster_id, max(n_chars) AS b FROM lab GROUP BY 1
            ),
            win AS (
              SELECT l.cluster_id, min(l.doc_id) AS w
              FROM lab l JOIN best bb ON l.cluster_id = bb.cluster_id
                AND l.n_chars IS NOT DISTINCT FROM bb.b
              GROUP BY 1
            )
            SELECT l.doc_id, l.cluster_id, l.doc_id = w.w AS is_canonical
            FROM lab l JOIN win w USING (cluster_id)
        """


def _leakage_split_oracle() -> str:
    """Leakage-safe split = the SAME closure CTE, then the s3_hash_split
    md5 arithmetic keyed by the cluster REPRESENTATIVE instead of the
    doc id — replicating dedup/cluster.py:leakage_safe_split (closure →
    canonical_docs → hash_split seed=7, 80/10/10) end to end."""
    return f"""{_closure_comp_ctes()},
            lab AS (
              SELECT d.doc_id,
                     coalesce(c.cluster_id, d.doc_id) AS cluster_id
              FROM documents d LEFT JOIN comp c USING (doc_id)
            )
            SELECT doc_id, cluster_id,
                   CASE
                     WHEN b < 800000 THEN 'train'
                     WHEN b < 900000 THEN 'val'
                     WHEN b < 1000000 THEN 'test'
                   END AS split
            FROM (
              SELECT doc_id, cluster_id,
                     ('0x' || substr(
                        md5(cluster_id::VARCHAR || chr(31) || '7'), 1, 8)
                     )::BIGINT % 1000000 AS b
              FROM lab
            )
        """


def _split_leakage_oracle(max_shingle_freq: int = 1000,
                          threshold: float = 0.2) -> str:
    """Straddling-edge audit: the SAME shingle/Jaccard pair CTEs as the
    closure oracles, joined twice against the s3_hash_split md5
    arithmetic (doc-keyed, seed=7, 80/10/10); a pair leaks iff its two
    splits differ (IS DISTINCT FROM = the null-safe inequality
    split_leakage_violations uses). No recursion: edge checking is
    complete for the no-straddle invariant."""
    return f"""
            WITH {_shingle_ctes(max_shingle_freq)},
            sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
            shared AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            pairs AS (
              SELECT id_a, id_b
              FROM shared p
              JOIN sizes sa ON p.id_a = sa.doc_id
              JOIN sizes sb ON p.id_b = sb.doc_id
              WHERE shared::DOUBLE / (sa.n + sb.n - shared) >= {threshold}
            ),
            lab AS (
              SELECT doc_id,
                     CASE
                       WHEN b < 800000 THEN 'train'
                       WHEN b < 900000 THEN 'val'
                       WHEN b < 1000000 THEN 'test'
                     END AS split
              FROM (
                SELECT doc_id,
                       ('0x' || substr(
                          md5(doc_id::VARCHAR || chr(31) || '7'), 1, 8)
                       )::BIGINT % 1000000 AS b
                FROM documents
              )
            )
            SELECT p.id_a, p.id_b,
                   la.split AS split_a, lb.split AS split_b
            FROM pairs p
            JOIN lab la ON p.id_a = la.doc_id
            JOIN lab lb ON p.id_b = lb.doc_id
            WHERE la.split IS DISTINCT FROM lb.split
        """


def _engine_verdicts_oracle() -> str:
    """Independent DuckDB recomputation of the flagship battery over the
    corpus dump: every check re-expressed as SQL (window lag for monotone,
    group-agg for contiguity, left join for text equality, quantile_cont
    for exact drift), aggregated to the same
    (check_id, n_violations, parts_failed) frame the engine emits."""
    from taco_toolbox_spark.schema import (
        CONV_ID_PATTERN,
        ROLE_VOCAB,
        TOOL_VOCAB,
    )

    roles = ", ".join(f"'{x}'" for x in ROLE_VOCAB)
    tools = ", ".join(f"'{x}'" for x in TOOL_VOCAB)
    check_ids = [
        "unique_turn", "conv_id_format", "role_vocab", "tool_vocab",
        "tool_iff_role", "text_not_null", "turn_idx_nonneg", "ts_not_null",
        "ts_monotone", "turn_contiguous", "text_len_drift", "text_equality",
    ]
    values = ", ".join(f"('{c}')" for c in sorted(check_ids))
    probes = "[0.1, 0.25, 0.5, 0.75, 0.9]"
    return f"""
        WITH t AS (
          SELECT * FROM read_parquet('{_ORACLE_DUMP}/transcripts/*.parquet')
        ),
        r AS (
          SELECT * FROM read_parquet('{_ORACLE_DUMP}/baseline/*.parquet')
        ),
        row_v AS (
          SELECT part, 'conv_id_format' AS check_id FROM t
            WHERE NOT coalesce(regexp_matches(conv_id, '{CONV_ID_PATTERN}'), FALSE)
          UNION ALL SELECT part, 'role_vocab' FROM t
            WHERE NOT coalesce(role IN ({roles}), FALSE)
          UNION ALL SELECT part, 'tool_vocab' FROM t
            WHERE NOT coalesce(tool IN ({tools}), TRUE)
          UNION ALL SELECT part, 'tool_iff_role' FROM t
            WHERE NOT coalesce((role = 'tool') = (tool IS NOT NULL), FALSE)
          UNION ALL SELECT part, 'text_not_null' FROM t WHERE text IS NULL
          UNION ALL SELECT part, 'turn_idx_nonneg' FROM t
            WHERE NOT coalesce(turn_idx >= 0, FALSE)
          UNION ALL SELECT part, 'ts_not_null' FROM t WHERE ts IS NULL
        ),
        uniq_v AS (
          SELECT part, 'unique_turn' AS check_id
          FROM t GROUP BY part, conv_id, turn_idx HAVING count(*) > 1
        ),
        mono_v AS (
          SELECT part, 'ts_monotone' AS check_id FROM (
            SELECT part, ts,
                   lag(ts) OVER (PARTITION BY part, conv_id
                                 ORDER BY turn_idx) AS pts
            FROM t)
          WHERE pts > ts
        ),
        contig_v AS (
          SELECT part, 'turn_contiguous' AS check_id
          FROM t GROUP BY part, conv_id
          HAVING NOT (min(turn_idx) = 0 AND max(turn_idx) = count(*) - 1
                      AND count(DISTINCT turn_idx) = count(*))
        ),
        texteq_v AS (
          SELECT t.part, 'text_equality' AS check_id
          FROM t LEFT JOIN r
            ON t.conv_id = r.conv_id AND t.turn_idx = r.turn_idx
          WHERE r.conv_id IS NULL OR t.text IS DISTINCT FROM r.text
        ),
        bq AS (
          SELECT quantile_cont(length(text), {probes}) AS q FROM r
        ),
        pq AS (
          SELECT part, quantile_cont(length(text), {probes}) AS q
          FROM t GROUP BY part
        ),
        drift_v AS (
          SELECT part, 'text_len_drift' AS check_id FROM (
            SELECT pq.part,
                   list_max(list_transform(range(1, 6),
                       i -> abs(pq.q[i] - bq.q[i])
                            / greatest(abs(bq.q[i]), 1e-12))) AS dist
            FROM pq, bq)
          WHERE dist IS NULL OR isnan(dist) OR dist > 0.25
        ),
        allv AS (
          SELECT * FROM row_v
          UNION ALL SELECT * FROM uniq_v
          UNION ALL SELECT * FROM mono_v
          UNION ALL SELECT * FROM contig_v
          UNION ALL SELECT * FROM texteq_v
          UNION ALL SELECT * FROM drift_v
        ),
        checks(check_id) AS (VALUES {values}),
        agg AS (
          SELECT check_id, count(*) AS n, count(DISTINCT part) AS pf
          FROM allv GROUP BY 1
        )
        SELECT c.check_id,
               coalesce(a.n, 0)::BIGINT AS n_violations,
               coalesce(a.pf, 0)::BIGINT AS parts_failed
        FROM checks c LEFT JOIN agg a USING (check_id)
        ORDER BY c.check_id
    """


def _lang_id_oracle() -> str:
    """DuckDB mirror of functions.text.lang_id, built from the SAME
    STOPWORDS constant so the two can't drift."""
    from taco_toolbox_spark.functions.text import STOPWORDS

    score = {
        lang: (
            "len(list_filter(toks, x -> list_contains(["
            + ", ".join(f"'{w}'" for w in words)
            + "], x)))"
        )
        for lang, words in STOPWORDS.items()
    }
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in STOPWORDS) + ")"
    tie = " ".join(
        f"WHEN s_{lang} = {best} THEN '{lang}'" for lang in STOPWORDS
    )
    scores_sql = ", ".join(f"{expr} AS s_{lang}" for lang, expr in score.items())
    return f"""
        WITH t AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(lower(coalesce(text, ''))),
                                       '\\s+') AS toks
          FROM documents
        ), s AS (SELECT doc_id, {scores_sql} FROM t)
        SELECT doc_id,
               CASE WHEN {best} <= 0 THEN 'und' {tie} END AS lang_pred
        FROM s
    """


def _sim_ivf_topk_oracle(
    n_centroids: int = 16, n_probe: int = 4, seed: int = 7,
    dim: int = 64, k: int = 10,
) -> str:
    """DuckDB replica of similarity.ann.ivf_topk with the identical
    centroid literals: cell assignment (argmax dot, ties to larger cid),
    query probe selection, and the candidate-restricted exact re-rank are
    all independently recomputed — pruning recall is not assumed."""
    from taco_toolbox_spark.similarity.ann import ivf_centroids

    C = ivf_centroids(dim, n_centroids, seed)
    rows = ",\n".join(
        "(" + str(cid) + ", [" + ", ".join(repr(x) for x in row) + "])"
        for cid, row in enumerate(C)
    )
    return f"""
        WITH centroids(cid, c) AS (VALUES {rows}),
        q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        qdots AS (
          SELECT c.cid,
                 list_sum(list_transform(range(1, {dim} + 1),
                    i -> q.qe[i]::DOUBLE * c.c[i])) AS dot
          FROM centroids c, q
        ),
        probes AS (
          SELECT cid FROM qdots ORDER BY dot DESC, cid DESC LIMIT {n_probe}
        ),
        dots AS (
          SELECT e.vec_id, c.cid,
                 list_sum(list_transform(range(1, {dim} + 1),
                    i -> e.embedding[i]::DOUBLE * c.c[i])) AS dot
          FROM embeddings e, centroids c WHERE e.vec_id <> 0
        ),
        assign AS (
          SELECT vec_id,
                 (array_agg(cid ORDER BY dot DESC, cid DESC))[1] AS cell
          FROM dots GROUP BY vec_id
        ),
        cand AS (
          SELECT e.vec_id, e.embedding
          FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id
          WHERE a.cell IN (SELECT cid FROM probes)
        ),
        scored AS (
          SELECT cd.vec_id,
                 list_sum(list_transform(range(1, {dim} + 1),
                    i -> cd.embedding[i]::DOUBLE * q.qe[i]::DOUBLE))
                 / (sqrt(list_sum(list_transform(cd.embedding,
                      x -> x::DOUBLE * x::DOUBLE)))
                    * sqrt(list_sum(list_transform(q.qe,
                      x -> x::DOUBLE * x::DOUBLE)))) AS cval
          FROM cand cd, q
        )
        SELECT vec_id, round(cval, 4) AS cos FROM scored
        ORDER BY cos DESC, vec_id LIMIT {k}
    """


def _zorder_oracle() -> str:
    """DuckDB mirror of functions.ids.morton_encode/grid_bucket: the same
    log-depth magic-number bit spread (masks/shifts inlined from
    _spread_bits, decimal form) chained through CTEs in BIGINT arithmetic,
    then interleave, sort, limit — recomputed end-to-end, not assumed."""
    scale = (1 << 21) - 1  # 2097151, morton_encode default bits=21
    steps = [
        (16, 0x0000FFFF0000FFFF),
        (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F),
        (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    ]
    spread = "".join(
        f""",
        s{shift} AS (
          SELECT event_id, lon, lat,
                 (x | (x << {shift})) & {mask} AS x,
                 (y | (y << {shift})) & {mask} AS y
          FROM {prev}
        )"""
        for (shift, mask), prev in zip(
            steps, ["g"] + [f"s{s}" for s, _ in steps[:-1]]
        )
    )
    return f"""
        WITH pts AS (
          SELECT event_id,
                 {_LON_SQL} AS lon,
                 {_LAT_SQL} AS lat
          FROM events
        ),
        g AS (
          SELECT event_id, lon, lat,
                 CAST(round((lon + 180.0) / 360.0 * {scale}) AS BIGINT)
                   & {scale} AS x,
                 CAST(round((lat + 90.0) / 180.0 * {scale}) AS BIGINT)
                   & {scale} AS y
          FROM pts
        ){spread}
        SELECT event_id,
               x | (y << 1) AS zcode,
               printf('r%04d_c%04d',
                      CAST(floor((lat + 90.0) / 10.0) AS INT),
                      CAST(floor((lon + 180.0) / 10.0) AS INT)) AS cell
        FROM s1
        ORDER BY zcode, event_id
        LIMIT 20
    """


def _a5_extent_oracle() -> str:
    """DuckDB mirror of operators.extents.spatial_extent: one conditional
    aggregation, then the antimeridian pick rule (crosses iff both sign
    groups present AND full span > 180; keep the sign group with the larger
    longitude span) — identical expression tree to the Spark side."""
    return f"""
        WITH pts AS (
          SELECT {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM events
        ),
        a AS (
          SELECT min(lon) AS min_lon, max(lon) AS max_lon,
                 min(lat) AS min_lat, max(lat) AS max_lat,
                 min(CASE WHEN lon < 0 THEN lon END) AS w_min,
                 max(CASE WHEN lon < 0 THEN lon END) AS w_max,
                 min(CASE WHEN lon >= 0 THEN lon END) AS e_min,
                 max(CASE WHEN lon >= 0 THEN lon END) AS e_max
          FROM pts
        ),
        p AS (
          SELECT *,
                 (w_min IS NOT NULL AND e_min IS NOT NULL
                  AND max_lon - min_lon > 180.0) AS crosses
          FROM a
        ),
        q AS (
          SELECT *,
                 (crosses AND coalesce(w_max - w_min, -1.0)
                              >= coalesce(e_max - e_min, -1.0)) AS pick_w
          FROM p
        )
        SELECT CASE WHEN pick_w THEN w_min
                    WHEN crosses THEN e_min ELSE min_lon END AS west,
               CASE WHEN pick_w THEN w_max
                    WHEN crosses THEN e_max ELSE max_lon END AS east,
               min_lat AS south, max_lat AS north
        FROM q
    """


_U1_ALIGN_UNION_ORACLE = """
    WITH u AS (
      SELECT event_id, event_type, value, CAST(NULL AS TIMESTAMP) AS ts
      FROM events
      UNION ALL
      SELECT event_id, event_type, CAST(NULL AS DOUBLE) AS value, ts
      FROM events
    )
    SELECT event_type, count(*) AS n_rows,
           count(value) AS n_value, count(ts) AS n_ts
    FROM u GROUP BY 1
"""


def oracle_sql() -> dict[str, str]:
    _ensure_verdict_dump()
    return {
        "engine_verdicts": _engine_verdicts_oracle(),
        "v13_role_seq": f"""
            WITH t AS (
              SELECT * FROM read_parquet('{_ORACLE_DUMP}/transcripts/*.parquet')
            ),
            p AS (
              SELECT part, conv_id, turn_idx, role,
                     lag(role) OVER (PARTITION BY part, conv_id
                                     ORDER BY turn_idx) AS prev
              FROM t
            )
            -- adjacent-pair rule: allowed = (vocab × vocab minus *->system);
            -- any out-of-vocabulary role fails both sides of the pair
            SELECT part::VARCHAR AS part, 'role_transitions' AS check_id,
                   conv_id::VARCHAR AS conv_id, turn_idx::INT AS turn_idx
            FROM p
            WHERE prev IS NOT NULL
              AND NOT (prev IN ('system','user','assistant','tool')
                       AND role IN ('user','assistant','tool'))
            UNION ALL
            -- opening rule: the value at the smallest turn_idx must be 'system'
            SELECT part::VARCHAR, 'role_transitions',
                   conv_id::VARCHAR, min(turn_idx)::INT
            FROM t GROUP BY part, conv_id
            HAVING NOT coalesce(arg_min(role, turn_idx) = 'system', FALSE)
        """,
        # digest oracles replay operators/digest.py's md5 row hash verbatim:
        # concat_ws(chr(31), coalesce(col::VARCHAR, chr(0))...) || chr(31) ||
        # seed, first 10 hex chars parsed as a 40-bit integer, then BOTH
        # commutative combiners (bit_xor, sum mod 2^40) recomputed by DuckDB
        "m1_content_digest": f"""
            WITH h AS (
              SELECT part,
                     ('0x' || substr(md5(
                        coalesce(conv_id, chr(0)) || chr(31) ||
                        coalesce(turn_idx::VARCHAR, chr(0)) || chr(31) ||
                        coalesce(role, chr(0)) || chr(31) ||
                        coalesce(text, chr(0)) || chr(31) || '0'
                     ), 1, 10))::BIGINT AS h
              FROM read_parquet('{_ORACLE_DUMP}/transcripts/*.parquet')
            )
            SELECT part, count(*)::BIGINT AS n_rows, bit_xor(h) AS xor_d,
                   (sum(h) % 1099511627776)::BIGINT AS sum_d
            FROM h GROUP BY part
        """,
        "m2_dup_convs": f"""
            WITH t AS (
              SELECT conv_id, turn_idx, role, text
              FROM read_parquet('{_ORACLE_DUMP}/transcripts/*.parquet')
            ),
            planted AS (
              SELECT * FROM t
              UNION ALL
              SELECT conv_id || '_dup', turn_idx, role, text
              FROM t WHERE conv_id LIKE '%7'
            ),
            h AS (
              SELECT conv_id,
                     ('0x' || substr(md5(
                        coalesce(turn_idx::VARCHAR, chr(0)) || chr(31) ||
                        coalesce(role, chr(0)) || chr(31) ||
                        coalesce(text, chr(0)) || chr(31) || '0'
                     ), 1, 10))::BIGINT AS h
              FROM planted
            ),
            d AS (
              SELECT conv_id, count(*)::BIGINT AS n_turns,
                     bit_xor(h) AS xor_d,
                     (sum(h) % 1099511627776)::BIGINT AS sum_d
              FROM h GROUP BY conv_id
            )
            SELECT n_turns, xor_d, sum_d, count(*)::BIGINT AS n_convs,
                   string_agg(conv_id, ',' ORDER BY conv_id) AS conv_ids
            FROM d GROUP BY n_turns, xor_d, sum_d
            HAVING count(*) > 1
        """,
        # the streaming digest's complete-mode emission must equal the
        # batch digest DuckDB recomputes from scratch over the same table
        "stream_digest": """
            WITH h AS (
              SELECT source,
                     ('0x' || substr(md5(
                        coalesce(doc_id::VARCHAR, chr(0)) || chr(31) ||
                        coalesce(text, chr(0)) || chr(31) ||
                        coalesce(lang, chr(0)) || chr(31) ||
                        coalesce(source, chr(0)) || chr(31) || '0'
                     ), 1, 10))::BIGINT AS h
              FROM documents
            )
            SELECT source, count(*)::BIGINT AS n_rows, bit_xor(h) AS xor_d,
                   (sum(h) % 1099511627776)::BIGINT AS sum_d
            FROM h GROUP BY source
        """,
        "w11_burst_rate": """
            WITH t AS (
              SELECT user_id, ts,
                     count(*) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                       RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW
                     ) AS n_trailing
              FROM events
            )
            SELECT 'burst_rate' AS check_id, user_id, ts, n_trailing
            FROM t WHERE n_trailing > 8
        """,
        # the chunked path must be bit-identical to the PLAIN window —
        # the oracle never sees the buckets (see q_w11_burst_rate_chunked)
        "w11_burst_rate_chunked": """
            WITH t AS (
              SELECT user_id, ts,
                     count(*) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                       RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW
                     ) AS n_trailing
              FROM events
            )
            SELECT 'burst_rate' AS check_id, user_id, ts, n_trailing
            FROM t WHERE n_trailing > 8
        """,
        "w12_stuck_runs": """
            WITH t AS (
              SELECT user_id, event_id, ts, event_type,
                     row_number() OVER w AS rn,
                     CASE WHEN row_number() OVER w = 1
                            OR lag(event_type) OVER w
                               IS DISTINCT FROM event_type
                          THEN 1 ELSE 0 END AS is_new
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), r AS (
              SELECT user_id, event_id, ts, event_type,
                     rn - max(CASE WHEN is_new = 1 THEN rn END) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                     ) + 1 AS run_pos
              FROM t
            )
            SELECT user_id, ts, event_id, event_type, run_pos
            FROM r WHERE run_pos > 2
        """,
        "stream_runs": """
            WITH t AS (
              SELECT user_id, event_id, ts, event_type,
                     row_number() OVER w AS rn,
                     CASE WHEN row_number() OVER w = 1
                            OR lag(event_type) OVER w
                               IS DISTINCT FROM event_type
                          THEN 1 ELSE 0 END AS is_new
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), r AS (
              SELECT user_id, event_id, ts, event_type,
                     rn - max(CASE WHEN is_new = 1 THEN rn END) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                     ) + 1 AS run_pos
              FROM t
            )
            SELECT user_id, ts, event_id, event_type, run_pos
            FROM r WHERE run_pos > 2
        """,
        "d10_gap_drift": """
            WITH g0 AS (
              SELECT strftime(ts, '%Y-%m-%d') AS part,
                     CAST(floor(epoch(ts)) AS BIGINT)
                     - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id
                       ) AS gap
              FROM events
            ),
            j AS (
              SELECT part,
                     CASE WHEN gap < 60 THEN 'lt_1m'
                          WHEN gap < 3600 THEN 'lt_1h'
                          WHEN gap < 86400 THEN 'lt_1d'
                          ELSE 'ge_1d' END AS cat
              FROM g0 WHERE gap IS NOT NULL
            ),
            c AS (SELECT part, cat, count(*) AS n FROM j GROUP BY 1, 2),
            tot AS (SELECT part, sum(n)::BIGINT AS n_part FROM c GROUP BY 1),
            g AS (SELECT cat, sum(n)::BIGINT AS nb FROM c GROUP BY 1),
            nt AS (SELECT sum(n)::BIGINT AS n_total FROM c)
            SELECT t.part AS day, t.n_part AS n_part,
                   sum(abs(coalesce(x.n, 0)::BIGINT * nt.n_total
                           - g.nb * t.n_part))::BIGINT AS tv_num,
                   (sum(abs(coalesce(x.n, 0)::BIGINT * nt.n_total
                            - g.nb * t.n_part))::BIGINT
                    / (2.0 * t.n_part * nt.n_total)) AS tv
            FROM tot t
            CROSS JOIN nt
            CROSS JOIN g
            LEFT JOIN c x ON x.part = t.part AND x.cat = g.cat
            GROUP BY t.part, t.n_part, nt.n_total
        """,
        "d9_groupsize_drift": """
            WITH sz AS (
              SELECT l_orderkey AS k, count(*)::BIGINT AS n
              FROM lineitem GROUP BY 1
            ),
            j AS (
              SELECT strftime(o.o_orderdate, '%Y-%m') AS part,
                     sz.n::VARCHAR AS cat
              FROM sz JOIN orders o ON o.o_orderkey = sz.k
            ),
            c AS (SELECT part, cat, count(*) AS n FROM j GROUP BY 1, 2),
            tot AS (SELECT part, sum(n)::BIGINT AS n_part FROM c GROUP BY 1),
            g AS (SELECT cat, sum(n)::BIGINT AS nb FROM c GROUP BY 1),
            nt AS (SELECT sum(n)::BIGINT AS n_total FROM c)
            SELECT t.part AS month, t.n_part AS n_part,
                   sum(abs(coalesce(x.n, 0)::BIGINT * nt.n_total
                           - g.nb * t.n_part))::BIGINT AS tv_num,
                   (sum(abs(coalesce(x.n, 0)::BIGINT * nt.n_total
                            - g.nb * t.n_part))::BIGINT
                    / (2.0 * t.n_part * nt.n_total)) AS tv
            FROM tot t
            CROSS JOIN nt
            CROSS JOIN g
            LEFT JOIN c x ON x.part = t.part AND x.cat = g.cat
            GROUP BY t.part, t.n_part, nt.n_total
        """,
        "d12_volume_anomaly": """
            WITH prof AS (
              SELECT strftime(ts, '%Y-%m-%d') AS part,
                     count(*)::BIGINT AS n
              FROM events GROUP BY 1
            ),
            b1 AS (SELECT *, quantile_cont(n, 0.5) OVER () AS med
                   FROM prof),
            b2 AS (SELECT *, abs(n::DOUBLE - med) AS dev FROM b1),
            b3 AS (SELECT *, quantile_cont(dev, 0.5) OVER () AS mad
                   FROM b2)
            SELECT part AS day, n, med, mad, dev,
                   dev > 3.0 * mad AS is_anomaly
            FROM b3
        """,
        "d17_cardinality_vs_history": """
            WITH hist AS (
              SELECT strftime(ts, '%Y-%m-%d') AS part,
                     count(DISTINCT user_id)::BIGINT AS n
              FROM events
              WHERE strftime(ts, '%Y-%m-%d') < '2024-01-21'
              GROUP BY 1
            ),
            m AS (SELECT quantile_cont(n, 0.5) AS med FROM hist),
            b AS (
              SELECT m.med,
                     quantile_cont(abs(h.n::DOUBLE - m.med), 0.5) AS mad
              FROM hist h CROSS JOIN m
              GROUP BY m.med
            ),
            cur AS (
              SELECT strftime(ts, '%Y-%m-%d') AS part,
                     count(*)::BIGINT AS n,
                     count(DISTINCT user_id)::BIGINT AS nd
              FROM events
              WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-21'
              GROUP BY 1
            )
            SELECT c.part AS day, c.n, c.nd AS n_distinct, b.med, b.mad,
                   abs(c.nd::DOUBLE - b.med) AS dev,
                   abs(c.nd::DOUBLE - b.med) > 3.0 * b.mad AS is_anomaly
            FROM cur c CROSS JOIN b
        """,
        "d16_volume_vs_history": """
            WITH hist AS (
              SELECT strftime(ts, '%Y-%m-%d') AS part,
                     count(*)::BIGINT AS n
              FROM events
              WHERE strftime(ts, '%Y-%m-%d') < '2024-01-21'
              GROUP BY 1
            ),
            m AS (SELECT quantile_cont(n, 0.5) AS med FROM hist),
            b AS (
              SELECT m.med,
                     quantile_cont(abs(h.n::DOUBLE - m.med), 0.5) AS mad
              FROM hist h CROSS JOIN m
              GROUP BY m.med
            ),
            cur AS (
              SELECT strftime(ts, '%Y-%m-%d') AS part,
                     count(*)::BIGINT AS n
              FROM events
              WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-21'
              GROUP BY 1
            )
            SELECT c.part AS day, c.n, b.med, b.mad,
                   abs(c.n::DOUBLE - b.med) AS dev,
                   abs(c.n::DOUBLE - b.med) > 3.0 * b.mad AS is_anomaly
            FROM cur c CROSS JOIN b
        """,
        "d15_seasonal_volume": """
            WITH prof AS (
              SELECT strftime(ts, '%Y-%m-%d') AS part,
                     date_part('isodow', cast(ts AS DATE))::INTEGER
                       AS season,
                     count(*)::BIGINT AS n
              FROM events GROUP BY 1, 2
            ),
            b1 AS (SELECT *, quantile_cont(n, 0.5)
                     OVER (PARTITION BY season) AS med FROM prof),
            b2 AS (SELECT *, abs(n::DOUBLE - med) AS dev FROM b1),
            b3 AS (SELECT *, quantile_cont(dev, 0.5)
                     OVER (PARTITION BY season) AS mad FROM b2)
            SELECT part AS day, season, n, med, mad, dev,
                   dev > 3.0 * mad AS is_anomaly
            FROM b3
        """,
        "d13_completeness_drift": """
            WITH prof AS (
              SELECT strftime(ts, '%Y-%m-%d') AS part,
                     count(*)::BIGINT AS n,
                     count(CASE WHEN event_type <> 'purchase' THEN 1
                           END)::BIGINT AS nv
              FROM events GROUP BY 1
            ),
            g AS (
              SELECT *, sum(n) OVER ()::BIGINT AS tn,
                        sum(nv) OVER ()::BIGINT AS tnv
              FROM prof
            )
            SELECT part AS day, n, nv AS n_valid,
                   (n - nv)::DOUBLE / n::DOUBLE AS null_frac,
                   (tn - tnv)::DOUBLE / tn::DOUBLE AS base_frac,
                   (n - nv)::DOUBLE / n::DOUBLE
                     - (tn - tnv)::DOUBLE / tn::DOUBLE AS delta,
                   abs((n - nv)::DOUBLE / n::DOUBLE
                       - (tn - tnv)::DOUBLE / tn::DOUBLE) > 0.02 AS is_drift
            FROM g
        """,
        "d14_cardinality_anomaly": """
            WITH prof AS (
              SELECT strftime(ts, '%Y-%m-%d') AS part,
                     count(*)::BIGINT AS n,
                     count(DISTINCT user_id)::BIGINT AS nd
              FROM events GROUP BY 1
            ),
            b1 AS (SELECT *, quantile_cont(nd, 0.5) OVER () AS med
                   FROM prof),
            b2 AS (SELECT *, abs(nd::DOUBLE - med) AS dev FROM b1),
            b3 AS (SELECT *, quantile_cont(dev, 0.5) OVER () AS mad
                   FROM b2)
            SELECT part AS day, n, nd AS n_distinct, med, mad, dev,
                   dev > 3.0 * mad AS is_anomaly
            FROM b3
        """,
        "d11_runlength_drift": """
            WITH t AS (
              SELECT user_id, event_id, ts, event_type,
                     row_number() OVER w AS rn,
                     CASE WHEN row_number() OVER w = 1
                            OR lag(event_type) OVER w
                               IS DISTINCT FROM event_type
                          THEN 1 ELSE 0 END AS is_new
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), r AS (
              SELECT user_id, ts, rn,
                     max(CASE WHEN is_new = 1 THEN rn END) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                     ) AS run_start
              FROM t
            ), runs AS (
              SELECT user_id, run_start,
                     count(*)::BIGINT AS run_len,
                     min(ts) AS ts0
              FROM r GROUP BY 1, 2
            ),
            j AS (
              SELECT strftime(ts0, '%Y-%m-%d') AS part,
                     run_len::VARCHAR AS cat
              FROM runs
            ),
            c AS (SELECT part, cat, count(*) AS n FROM j GROUP BY 1, 2),
            tot AS (SELECT part, sum(n)::BIGINT AS n_part FROM c GROUP BY 1),
            g AS (SELECT cat, sum(n)::BIGINT AS nb FROM c GROUP BY 1),
            nt AS (SELECT sum(n)::BIGINT AS n_total FROM c)
            SELECT t.part AS day, t.n_part AS n_part,
                   sum(abs(coalesce(x.n, 0)::BIGINT * nt.n_total
                           - g.nb * t.n_part))::BIGINT AS tv_num,
                   (sum(abs(coalesce(x.n, 0)::BIGINT * nt.n_total
                            - g.nb * t.n_part))::BIGINT
                    / (2.0 * t.n_part * nt.n_total)) AS tv
            FROM tot t
            CROSS JOIN nt
            CROSS JOIN g
            LEFT JOIN c x ON x.part = t.part AND x.cat = g.cat
            GROUP BY t.part, t.n_part, nt.n_total
        """,
        "stream_pingpong": """
            WITH t AS (
              SELECT user_id, ts, event_id, event_type,
                     row_number() OVER w AS rn,
                     (row_number() OVER w > 2
                      AND event_type IS NOT DISTINCT FROM
                          lag(event_type, 2) OVER w) AS c
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), m AS (
              SELECT *,
                     (c AND NOT coalesce(lag(c) OVER w, FALSE)) AS isnew
              FROM t
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
              SELECT *,
                     max(CASE WHEN isnew THEN rn END) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                     ) AS run_start
              FROM m
            )
            SELECT user_id, ts, event_id, event_type,
                   (rn - run_start + 3)::BIGINT AS stretch_pos
            FROM s
            WHERE c AND rn - run_start + 3 > 4
        """,
        "w13_loop_detect": """
            WITH t AS (
              SELECT user_id, ts, event_id,
                     row_number() OVER w AS rn,
                     (row_number() OVER w > 2
                      AND event_type IS NOT DISTINCT FROM
                          lag(event_type, 2) OVER w) AS c,
                     lag(ts, 2) OVER w AS pts,
                     lag(event_id, 2) OVER w AS pid
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), m AS (
              SELECT *,
                     (c AND NOT coalesce(lag(c) OVER w, FALSE)) AS isnew
              FROM t
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
              SELECT *,
                     max(CASE WHEN isnew THEN rn END) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                     ) AS run_start
              FROM m
            ), r AS (
              SELECT user_id, run_start,
                     count(*)::BIGINT AS clen,
                     min_by(pts, rn) AS ts,
                     min_by(pid, rn) AS event_id
              FROM s WHERE c GROUP BY 1, 2
            )
            SELECT user_id, ts, event_id,
                   2 AS period,
                   (clen + 2)::BIGINT AS stretch_len,
                   ((clen + 2) // 2)::BIGINT AS n_reps
            FROM r
            WHERE (clen + 2) // 2 >= 2
        """,
        "diag_key_skew": """
            WITH c AS (
              SELECT user_id, count(*)::BIGINT AS n
              FROM events GROUP BY 1
            ),
            s AS (
              SELECT count(*)::BIGINT AS n_keys, sum(n)::BIGINT AS n_rows
              FROM c
            )
            SELECT user_id, n, n_keys, n_rows,
                   (n * n_keys) / (n_rows::DOUBLE) AS skew_x
            FROM c, s
            ORDER BY n DESC, user_id ASC
            LIMIT 10
        """,
        "stream_burst": """
            WITH t AS (
              SELECT user_id, ts,
                     count(*) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                       RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW
                     ) AS n_trailing
              FROM events
            )
            SELECT user_id, ts, n_trailing
            FROM t WHERE n_trailing > 8
        """,
        # streaming conditional TV == the batch d6 arithmetic keyed by the
        # window-start timestamp instead of the day string
        "stream_cond_drift": """
            WITH c AS (
              SELECT date_trunc('day', ts) AS part,
                     coalesce(event_type, '<null>') AS k,
                     coalesce(least(floor(value / 100)::INT, 4)::VARCHAR,
                              '<null>') AS cat,
                     count(*) AS n
              FROM events GROUP BY 1, 2, 3
            ),
            tot AS (
              SELECT part, k, sum(n)::BIGINT AS n_win FROM c GROUP BY 1, 2
            ),
            b AS (
              SELECT k, cat, sum(n)::BIGINT AS nb FROM c GROUP BY 1, 2
            ),
            bt AS (SELECT k, sum(nb)::BIGINT AS n_base FROM b GROUP BY 1),
            cats AS (
              SELECT DISTINCT k, cat FROM c
              UNION SELECT k, cat FROM b
            )
            SELECT t.part AS window_start, t.k AS cond, t.n_win, bt.n_base,
                   sum(abs(coalesce(x.n, 0)::BIGINT * bt.n_base
                           - coalesce(b.nb, 0)::BIGINT * t.n_win))::BIGINT
                     AS tv_num,
                   (sum(abs(coalesce(x.n, 0)::BIGINT * bt.n_base
                            - coalesce(b.nb, 0)::BIGINT * t.n_win))::BIGINT
                    / (2.0 * t.n_win * bt.n_base)) AS tv
            FROM tot t
            JOIN bt ON bt.k = t.k
            JOIN cats g ON g.k = t.k
            LEFT JOIN c x ON x.part = t.part AND x.k = g.k AND x.cat = g.cat
            LEFT JOIN b ON b.k = g.k AND b.cat = g.cat
            GROUP BY t.part, t.k, t.n_win, bt.n_base
        """,
        # streaming embedding drift == the batch d3 arithmetic keyed by the
        # vec_id-derived day window (same deterministic ts derivation)
        "stream_emb_drift": """
            WITH e AS (
              SELECT TIMESTAMP '2024-01-01'
                       + INTERVAL ((vec_id % 10)::INT) DAY AS w,
                     unnest(embedding) AS val,
                     generate_subscripts(embedding, 1) AS dim
              FROM embeddings
            ), q AS (
              SELECT w, dim,
                     round(val::DOUBLE * 10000000)::BIGINT AS qv
              FROM e
            ), s AS (
              SELECT w, dim, sum(qv)::BIGINT AS s, count(*)::BIGINT AS n
              FROM q GROUP BY w, dim
            ), g AS (
              SELECT dim, sum(s)::BIGINT AS g FROM s GROUP BY dim
            ), p AS (
              SELECT s.w,
                     max(s.n)::BIGINT AS n_vecs,
                     sum(coalesce(s.s, 0)::HUGEINT * g.g::HUGEINT) AS num,
                     sum(coalesce(s.s, 0)::HUGEINT
                         * coalesce(s.s, 0)::HUGEINT) AS a,
                     sum(g.g::HUGEINT * g.g::HUGEINT) AS b
              FROM s JOIN g USING (dim) GROUP BY s.w
            )
            SELECT w AS window_start, n_vecs,
                   num::DOUBLE / (sqrt(a::DOUBLE) * sqrt(b::DOUBLE))
                     AS cosine,
                   1.0 - num::DOUBLE / (sqrt(a::DOUBLE) * sqrt(b::DOUBLE))
                     AS drift
            FROM p
        """,
        # streaming correlation == the batch d5 moment arithmetic per day
        # window against the inline stored baseline 0.0
        "stream_corr_drift": """
            WITH src AS (
              SELECT date_trunc('day', ts) AS w,
                     CAST(FLOOR(epoch(ts)) AS BIGINT) % 86400 AS x,
                     CAST(ROUND(value * 1000) AS BIGINT) AS y
              FROM events
              WHERE ts IS NOT NULL AND value IS NOT NULL
            ),
            m AS (
              SELECT w, count(*)::BIGINT AS n,
                     sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
                     sum(x::HUGEINT * x::HUGEINT) AS sxx,
                     sum(y::HUGEINT * y::HUGEINT) AS syy,
                     sum(x::HUGEINT * y::HUGEINT) AS sxy
              FROM src GROUP BY 1
            ),
            calc AS (
              SELECT w, n,
                     n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE
                       AS num,
                     n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE
                       AS vx,
                     n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE
                       AS vy
              FROM m
            )
            SELECT w AS window_start, n,
                   corr, 0.0 AS corr_base, abs(corr) AS delta
            FROM (
              SELECT w, n,
                     CASE WHEN n >= 2 AND vx > 0 AND vy > 0
                          THEN num / (sqrt(vx) * sqrt(vy)) END AS corr
              FROM calc
            )
        """,
        "stream_cat_drift": """
            WITH c AS (
              SELECT date_trunc('day', ts) AS part,
                     coalesce(event_type, '<null>') AS cat, count(*) AS n
              FROM events GROUP BY 1, 2
            ),
            tot AS (SELECT part, sum(n)::BIGINT AS n_win FROM c GROUP BY 1),
            g AS (SELECT cat, sum(n)::BIGINT AS nb FROM c GROUP BY 1),
            nt AS (SELECT sum(n)::BIGINT AS n_total FROM c)
            SELECT t.part AS window_start, t.n_win AS n_win,
                   sum(abs(coalesce(x.n, 0)::BIGINT * nt.n_total
                           - g.nb * t.n_win))::BIGINT AS tv_num,
                   (sum(abs(coalesce(x.n, 0)::BIGINT * nt.n_total
                            - g.nb * t.n_win))::BIGINT
                    / (2.0 * t.n_win * nt.n_total)) AS tv
            FROM tot t
            CROSS JOIN nt
            CROSS JOIN g
            LEFT JOIN c x ON x.part = t.part AND x.cat = g.cat
            GROUP BY t.part, t.n_win, nt.n_total
        """,
        "stream_health": """
            WITH prof AS (
              SELECT date_trunc('day', ts) AS window_start,
                     count(*)::BIGINT AS n,
                     count(CASE WHEN event_type <> 'purchase' THEN 1
                           END)::BIGINT AS nv
              FROM events GROUP BY 1
            ),
            b1 AS (SELECT *, quantile_cont(n, 0.5) OVER () AS med
                   FROM prof),
            b2 AS (SELECT *, abs(n::DOUBLE - med) AS dev FROM b1),
            b3 AS (SELECT *, quantile_cont(dev, 0.5) OVER () AS mad
                   FROM b2),
            g AS (
              SELECT *, sum(n) OVER ()::BIGINT AS tn,
                        sum(nv) OVER ()::BIGINT AS tnv
              FROM b3
            )
            SELECT window_start, n, nv AS n_valid, med, mad, dev,
                   dev > 3.0 * mad AS is_anomaly,
                   (n - nv)::DOUBLE / n::DOUBLE AS null_frac,
                   (tn - tnv)::DOUBLE / tn::DOUBLE AS base_frac,
                   (n - nv)::DOUBLE / n::DOUBLE
                     - (tn - tnv)::DOUBLE / tn::DOUBLE AS delta,
                   abs((n - nv)::DOUBLE / n::DOUBLE
                       - (tn - tnv)::DOUBLE / tn::DOUBLE) > 0.02 AS is_drift
            FROM g
        """,
        "stream_digest_windowed": """
            WITH h AS (
              SELECT date_trunc('day', ts) AS window_start, event_type,
                     ('0x' || substr(md5(
                        coalesce(event_id::VARCHAR, chr(0)) || chr(31) ||
                        coalesce(user_id::VARCHAR, chr(0)) || chr(31) ||
                        coalesce(props, chr(0)) || chr(31) || '0'
                     ), 1, 10))::BIGINT AS h
              FROM events
            )
            SELECT window_start, event_type, count(*)::BIGINT AS n_rows,
                   bit_xor(h) AS xor_d,
                   (sum(h) % 1099511627776)::BIGINT AS sum_d
            FROM h GROUP BY window_start, event_type
        """,
        "v14_role_close": f"""
            -- closing rule: the value at the LARGEST turn_idx must be an
            -- in-vocabulary non-system role
            SELECT part::VARCHAR AS part, 'role_close' AS check_id,
                   conv_id::VARCHAR AS conv_id, max(turn_idx)::INT AS turn_idx
            FROM read_parquet('{_ORACLE_DUMP}/transcripts/*.parquet')
            GROUP BY part, conv_id
            HAVING NOT coalesce(
                arg_max(role, turn_idx) IN ('user', 'assistant', 'tool'),
                FALSE)
        """,
        "s3_hash_split": """
            SELECT doc_id,
                   CASE
                     WHEN b < 800000 THEN 'train'
                     WHEN b < 900000 THEN 'val'
                     WHEN b < 1000000 THEN 'test'
                   END AS split
            FROM (
              SELECT doc_id,
                     ('0x' || substr(
                        md5(doc_id::VARCHAR || chr(31) || '7'), 1, 8)
                     )::BIGINT % 1000000 AS b
              FROM documents
            )
        """,
        "d3_embedding_drift": """
            WITH e AS (
              SELECT label::VARCHAR AS part,
                     unnest(embedding) AS val,
                     generate_subscripts(embedding, 1) AS dim
              FROM embeddings
            ), q AS (
              SELECT part, dim,
                     round(val::DOUBLE * 10000000)::BIGINT AS qv
              FROM e
            ), s AS (
              SELECT part, dim, sum(qv)::BIGINT AS s, count(*)::BIGINT AS n
              FROM q GROUP BY part, dim
            ), g AS (
              SELECT dim, sum(s)::BIGINT AS g FROM s GROUP BY dim
            ), p AS (
              SELECT s.part,
                     max(s.n)::BIGINT AS n_vecs,
                     sum(s.s::HUGEINT * g.g::HUGEINT) AS num,
                     sum(s.s::HUGEINT * s.s::HUGEINT) AS a,
                     sum(g.g::HUGEINT * g.g::HUGEINT) AS b
              FROM s JOIN g USING (dim) GROUP BY s.part
            )
            SELECT part, n_vecs,
                   num::DOUBLE / (sqrt(a::DOUBLE) * sqrt(b::DOUBLE))
                     AS cosine,
                   1.0 - num::DOUBLE / (sqrt(a::DOUBLE) * sqrt(b::DOUBLE))
                     AS drift
            FROM p
        """,
        "a11_conv_profile": f"""
            SELECT conv_id,
                   count(*)::BIGINT AS n_turns,
                   count(DISTINCT role)::BIGINT AS n_roles,
                   sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END)::BIGINT
                     AS n_tool_turns,
                   (epoch(max(ts)) - epoch(min(ts)))::DOUBLE AS duration_s,
                   sum(coalesce(length(text), 0))::BIGINT AS n_chars,
                   arg_min(role, turn_idx) AS opening_role,
                   arg_max(role, turn_idx) AS closing_role
            FROM read_parquet('{_ORACLE_DUMP}/transcripts/*.parquet')
            GROUP BY conv_id
        """,
        "w5_token_truncate": f"""
            WITH t AS (
              SELECT conv_id, turn_idx,
                     (CASE WHEN text IS NULL THEN 0
                           ELSE len(string_split(text, ' ')) END)::BIGINT
                       AS turn_tokens
              FROM read_parquet('{_ORACLE_DUMP}/transcripts/*.parquet')
            ), c AS (
              SELECT conv_id, turn_idx, turn_tokens,
                     sum(turn_tokens) OVER (
                       PARTITION BY conv_id ORDER BY turn_idx
                       ROWS UNBOUNDED PRECEDING) AS cum_tokens
              FROM t
            ), f AS (
              SELECT *,
                     max(CASE WHEN cum_tokens > 30 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY conv_id) AS trunc_i
              FROM c
            )
            SELECT conv_id, turn_idx, turn_tokens, cum_tokens::BIGINT AS cum_tokens,
                   trunc_i = 1 AS truncated
            FROM f WHERE cum_tokens <= 30
        """,
        "w8_chunk_windows": f"""
            SELECT conv_id, turn_idx, w AS window_id
            FROM read_parquet('{_ORACLE_DUMP}/transcripts/*.parquet'),
                 LATERAL (
                   SELECT unnest(range(
                     greatest(0::BIGINT,
                              (-floor((3 - turn_idx)::DOUBLE / 2))::BIGINT),
                     floor(turn_idx::DOUBLE / 2)::BIGINT + 1
                   )) AS w
                 )
        """,
        "w7_render_convs": f"""
            WITH lines AS (
              SELECT conv_id, turn_idx,
                     '<' || coalesce(role, '') || '> ' || coalesce(text, '')
                       AS l
              FROM read_parquet('{_ORACLE_DUMP}/transcripts/*.parquet')
            )
            SELECT conv_id,
                   string_agg(l, chr(10) ORDER BY turn_idx, l) AS text,
                   count(*)::BIGINT AS n_turns,
                   length(string_agg(l, chr(10) ORDER BY turn_idx, l))::BIGINT
                     AS n_chars
            FROM lines GROUP BY conv_id
        """,
        "w6_reindex_turns": f"""
            WITH kept AS (
              SELECT conv_id, turn_idx
              FROM read_parquet('{_ORACLE_DUMP}/transcripts/*.parquet')
              WHERE role <> 'tool'
            )
            SELECT conv_id, turn_idx AS orig_turn_idx,
                   (row_number() OVER (
                      PARTITION BY conv_id ORDER BY turn_idx) - 1)::INT
                     AS turn_idx
            FROM kept
        """,
        "a10_transition_matrix": f"""
            WITH p AS (
              SELECT role,
                     lag(role) OVER (PARTITION BY conv_id
                                     ORDER BY turn_idx) AS prev,
                     row_number() OVER (PARTITION BY conv_id
                                        ORDER BY turn_idx) AS rn
              FROM read_parquet('{_ORACLE_DUMP}/transcripts/*.parquet')
            )
            SELECT prev, role AS cur, count(*)::BIGINT AS n
            FROM p WHERE rn > 1 GROUP BY prev, role
        """,
        "t5_budget_select": """
            WITH t AS (
              SELECT doc_id,
                     length(text) AS score,
                     len(string_split(text, ' ')) AS toks
              FROM documents
            ),
            c AS (
              SELECT doc_id, score, toks,
                     sum(toks) OVER (
                       ORDER BY score DESC, doc_id
                       ROWS UNBOUNDED PRECEDING
                     ) AS cum
              FROM t
            )
            SELECT doc_id, score::INT AS score, toks::INT AS toks,
                   cum::BIGINT AS cum_toks
            FROM c WHERE cum <= 10000
        """,
        "t6_budget_select_grouped": """
            WITH t AS (
              SELECT doc_id,
                     doc_id % 5 AS domain,
                     length(text) AS score,
                     len(string_split(text, ' ')) AS toks
              FROM documents
            ),
            c AS (
              SELECT doc_id, domain, score, toks,
                     sum(toks) OVER (
                       PARTITION BY domain
                       ORDER BY score DESC, doc_id
                       ROWS UNBOUNDED PRECEDING
                     ) AS cum
              FROM t
            )
            SELECT doc_id, domain::INT AS domain, score::INT AS score,
                   toks::INT AS toks, cum::BIGINT AS cum_toks
            FROM c WHERE cum <= 3000
        """,
        "w10_loss_spans": f"""
            WITH t AS (
              SELECT conv_id, turn_idx,
                     coalesce(role, '') AS r,
                     '<' || coalesce(role, '') || '> '
                       || coalesce(text, '') AS line
              FROM read_parquet('{_ORACLE_DUMP}/transcripts/*.parquet')
            ),
            o AS (
              SELECT conv_id, r, line,
                     coalesce(sum(length(line) + 1) OVER (
                       PARTITION BY conv_id
                       ORDER BY turn_idx, line, r
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS span_start
              FROM t
            )
            SELECT conv_id,
                   span_start::BIGINT AS span_start,
                   (span_start + length(line))::BIGINT AS span_end
            FROM o WHERE r = 'assistant'
        """,
        "v17_embedding_sanity": """
            WITH c AS (
              SELECT vec_id,
                     CASE
                       WHEN vec_id % 97 = 0 THEN NULL
                       WHEN vec_id % 89 = 0 THEN
                         list_transform(embedding[1:32], x -> x::DOUBLE)
                       WHEN vec_id % 83 = 0 THEN
                         list_transform(embedding, x -> x::DOUBLE * 100.0)
                       WHEN vec_id % 79 = 0 THEN
                         list_append(
                           list_transform(embedding, x -> x::DOUBLE),
                           'NaN'::DOUBLE)
                       ELSE list_transform(embedding, x -> x::DOUBLE)
                     END AS e
              FROM embeddings
            ),
            m AS (
              SELECT vec_id, e,
                     len(e) AS n,
                     len(list_filter(e, x -> x IS NULL OR isnan(x)
                                            OR abs(x) = 'inf'::DOUBLE)) > 0
                       AS bad_elem,
                     sqrt(list_reduce(
                       list_prepend(0.0::DOUBLE,
                                    list_transform(e, x -> x * x)),
                       (a, b) -> a + b)) AS norm
              FROM c
            )
            SELECT vec_id, 'emb_not_null' AS check_id,
                   'embedding is null' AS detail
            FROM m WHERE e IS NULL
            UNION ALL
            SELECT vec_id, 'emb_dim',
                   'dim=' || n || ' != 64'
            FROM m WHERE e IS NOT NULL AND n != 64
            UNION ALL
            SELECT vec_id, 'emb_finite', 'non-finite element'
            FROM m WHERE e IS NOT NULL AND bad_elem
            UNION ALL
            SELECT vec_id, 'emb_norm', 'norm out of bounds'
            FROM m WHERE e IS NOT NULL
              AND NOT coalesce(norm >= 0.5 AND norm <= 2.0, FALSE)
        """,
        "t7_group_percentile": """
            WITH t AS (
              SELECT doc_id,
                     doc_id % 5 AS domain,
                     length(text) AS score
              FROM documents
            ),
            r AS (
              SELECT doc_id, domain, score,
                     row_number() OVER (
                       PARTITION BY domain
                       ORDER BY score ASC NULLS FIRST, doc_id
                     ) AS rk,
                     count(*) OVER (PARTITION BY domain) AS n
              FROM t
            )
            SELECT doc_id, domain::INT AS domain, score::INT AS score,
                   CASE WHEN n > 1
                        THEN (rk - 1)::DOUBLE / (n - 1)
                   END AS pct_rank
            FROM r
        """,
        "d4_profile_drift": f"""
            WITH prof AS (
              SELECT src, col_name, n_rows, n_nonnull, n_distinct,
                     min_val, max_val
              FROM (
                SELECT src,
                       unnest(['turn_idx', 'role', 'tool', 'text'])
                         AS col_name,
                       n_rows,
                       unnest([nn_ti, nn_ro, nn_to, nn_tx]) AS n_nonnull,
                       unnest([nd_ti, nd_ro, nd_to, nd_tx]) AS n_distinct,
                       unnest([mn_ti, mn_ro, mn_to, mn_tx]) AS min_val,
                       unnest([mx_ti, mx_ro, mx_to, mx_tx]) AS max_val
                FROM (
                  SELECT src, count(*) AS n_rows,
                         count(turn_idx) AS nn_ti, count(role) AS nn_ro,
                         count(tool) AS nn_to, count(text) AS nn_tx,
                         count(DISTINCT turn_idx) AS nd_ti,
                         count(DISTINCT role) AS nd_ro,
                         count(DISTINCT tool) AS nd_to,
                         count(DISTINCT text) AS nd_tx,
                         min(turn_idx)::VARCHAR AS mn_ti,
                         min(role) AS mn_ro, min(tool) AS mn_to,
                         min(text) AS mn_tx,
                         max(turn_idx)::VARCHAR AS mx_ti,
                         max(role) AS mx_ro, max(tool) AS mx_to,
                         max(text) AS mx_tx
                  FROM (
                    SELECT 'prev' AS src, * FROM
                      read_parquet('{_ORACLE_DUMP}/baseline/*.parquet')
                    UNION ALL
                    SELECT 'cur', * FROM
                      read_parquet('{_ORACLE_DUMP}/transcripts/*.parquet')
                  ) GROUP BY src
                )
              )
            )
            SELECT p.col_name,
                   p.n_rows::BIGINT AS n_prev, p.n_nonnull::BIGINT AS nn_prev,
                   p.n_distinct::BIGINT AS nd_prev,
                   p.min_val AS min_prev, p.max_val AS max_prev,
                   c.n_rows::BIGINT AS n_cur, c.n_nonnull::BIGINT AS nn_cur,
                   c.n_distinct::BIGINT AS nd_cur,
                   c.min_val AS min_cur, c.max_val AS max_cur,
                   (c.n_rows - c.n_nonnull)::DOUBLE / c.n_rows
                     - (p.n_rows - p.n_nonnull)::DOUBLE / p.n_rows
                     AS null_frac_delta,
                   CASE WHEN p.n_distinct > 0
                        THEN c.n_distinct::DOUBLE / p.n_distinct
                   END AS distinct_ratio
            FROM prof p JOIN prof c
              ON p.col_name = c.col_name
             AND p.src = 'prev' AND c.src = 'cur'
        """,
        "v16_fd_tool_role": f"""
            WITH t AS (
              SELECT * FROM read_parquet('{_ORACLE_DUMP}/transcripts/*.parquet')
            ),
            combos AS (
              SELECT part, tool,
                     coalesce(role::VARCHAR, chr(0)) AS combo,
                     count(*) AS n
              FROM t WHERE tool IS NOT NULL
              GROUP BY 1, 2, 3
            )
            SELECT part::VARCHAR AS part, tool::VARCHAR AS tool,
                   count(*)::BIGINT AS n_variants,
                   sum(n)::BIGINT AS n_rows,
                   min(combo) AS variant_min,
                   max(combo) AS variant_max
            FROM combos GROUP BY part, tool
            HAVING count(*) > 1
        """,
        "v15_turn_gap": f"""
            WITH p AS (
              SELECT part, conv_id, turn_idx, ts,
                     lag(ts) OVER (PARTITION BY part, conv_id
                                   ORDER BY turn_idx) AS prev_ts
              FROM read_parquet('{_ORACLE_DUMP}/transcripts/*.parquet')
            )
            SELECT part::VARCHAR AS part, 'ts_gap' AS check_id,
                   conv_id::VARCHAR AS conv_id, turn_idx::INT AS turn_idx
            FROM p
            WHERE prev_ts IS NOT NULL AND ts IS NOT NULL
              AND epoch(ts) - epoch(prev_ts) > 120
        """,
        "d4_ks_drift": """
            WITH s AS (
              SELECT strftime(ts, '%Y-%m-%d') AS part, value AS v,
                     count(*)::BIGINT AS sn
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2
            ),
            b AS (
              SELECT value AS v, count(*)::BIGINT AS bn
              FROM events WHERE value IS NOT NULL GROUP BY 1
            ),
            parts AS (SELECT DISTINCT part FROM s),
            u AS (
              SELECT part, v, sn, 0::BIGINT AS bn FROM s
              UNION ALL
              SELECT p.part, b.v, 0::BIGINT, b.bn FROM parts p CROSS JOIN b
            ),
            g AS (
              SELECT part, v, sum(sn)::BIGINT AS sn, sum(bn)::BIGINT AS bn
              FROM u GROUP BY 1, 2
            ),
            c AS (
              SELECT part,
                sum(sn) OVER (PARTITION BY part ORDER BY v)::BIGINT AS cs,
                sum(bn) OVER (PARTITION BY part ORDER BY v)::BIGINT AS cb,
                sum(sn) OVER (PARTITION BY part)::BIGINT AS n_part,
                sum(bn) OVER (PARTITION BY part)::BIGINT AS m
              FROM g
            )
            SELECT part AS day, n_part, m,
                   max(abs(cs*m - cb*n_part))::BIGINT AS ks_num,
                   max(abs(cs*m - cb*n_part))::BIGINT
                     / (n_part::DOUBLE * m::DOUBLE) AS ks
            FROM c GROUP BY part, n_part, m
        """,
        "d5_corr_drift": """
            WITH src AS (
              SELECT event_type,
                     CAST(FLOOR(epoch(ts)) AS BIGINT) % 86400 AS x,
                     CAST(ROUND(value * 1000) AS BIGINT) AS y
              FROM events
              WHERE ts IS NOT NULL AND value IS NOT NULL
            ),
            m AS (
              SELECT event_type AS part, count(*)::BIGINT AS n,
                     sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
                     sum(x::HUGEINT * x::HUGEINT) AS sxx,
                     sum(y::HUGEINT * y::HUGEINT) AS syy,
                     sum(x::HUGEINT * y::HUGEINT) AS sxy
              FROM src GROUP BY 1
            ),
            calc AS (
              SELECT part, n,
                     n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE
                       AS num,
                     n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE
                       AS vx,
                     n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE
                       AS vy
              FROM m
            ),
            per_part AS (
              SELECT part, n,
                     CASE WHEN n >= 2 AND vx > 0 AND vy > 0
                          THEN num / (sqrt(vx) * sqrt(vy)) END AS corr
              FROM calc
            ),
            gm AS (
              SELECT count(*)::BIGINT AS n,
                     sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
                     sum(x::HUGEINT * x::HUGEINT) AS sxx,
                     sum(y::HUGEINT * y::HUGEINT) AS syy,
                     sum(x::HUGEINT * y::HUGEINT) AS sxy
              FROM src
            ),
            gcalc AS (
              SELECT n,
                     n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE
                       AS num,
                     n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE
                       AS vx,
                     n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE
                       AS vy
              FROM gm
            ),
            base AS (
              SELECT CASE WHEN n >= 2 AND vx > 0 AND vy > 0
                          THEN num / (sqrt(vx) * sqrt(vy)) END AS corr_base
              FROM gcalc
            )
            SELECT p.part AS event_type, p.n, p.corr, b.corr_base,
                   abs(p.corr - b.corr_base) AS delta
            FROM per_part p CROSS JOIN base b
        """,
        "d6_cond_drift": """
            WITH c AS (
              SELECT strftime(ts, '%Y-%m-%d') AS part,
                     coalesce(event_type, '<null>') AS k,
                     coalesce(least(floor(value / 100)::INT, 4)::VARCHAR,
                              '<null>') AS cat,
                     count(*) AS n
              FROM events GROUP BY 1, 2, 3
            ),
            tot AS (
              SELECT part, k, sum(n)::BIGINT AS n_part FROM c GROUP BY 1, 2
            ),
            b AS (
              SELECT k, cat, sum(n)::BIGINT AS nb FROM c GROUP BY 1, 2
            ),
            bt AS (SELECT k, sum(nb)::BIGINT AS n_base FROM b GROUP BY 1),
            cats AS (
              SELECT DISTINCT k, cat FROM c
              UNION SELECT k, cat FROM b
            )
            SELECT t.part AS day, t.k AS cond, t.n_part, bt.n_base,
                   sum(abs(coalesce(x.n, 0)::BIGINT * bt.n_base
                           - coalesce(b.nb, 0)::BIGINT * t.n_part))::BIGINT
                     AS tv_num,
                   (sum(abs(coalesce(x.n, 0)::BIGINT * bt.n_base
                            - coalesce(b.nb, 0)::BIGINT * t.n_part))::BIGINT
                    / (2.0 * t.n_part * bt.n_base)) AS tv
            FROM tot t
            JOIN bt ON bt.k = t.k
            JOIN cats g ON g.k = t.k
            LEFT JOIN c x ON x.part = t.part AND x.k = g.k AND x.cat = g.cat
            LEFT JOIN b ON b.k = g.k AND b.cat = g.cat
            GROUP BY t.part, t.k, t.n_part, bt.n_base
        """,
        "d7_transition_drift": """
            WITH e AS (
              SELECT strftime(ts, '%Y-%m-%d') AS part,
                     coalesce(event_type, '<null>') AS s,
                     lag(coalesce(event_type, '<null>')) OVER w AS prev,
                     (lead(coalesce(event_type, '<null>')) OVER w IS NULL)
                       AS islast
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            pairs AS (
              SELECT part, coalesce(prev, '<start>') AS k, s AS cat FROM e
              UNION ALL
              SELECT part, s AS k, '<end>' AS cat FROM e WHERE islast
            ),
            c AS (
              SELECT part, k, cat, count(*) AS n FROM pairs GROUP BY 1, 2, 3
            ),
            tot AS (
              SELECT part, k, sum(n)::BIGINT AS n_part FROM c GROUP BY 1, 2
            ),
            b AS (
              SELECT k, cat, sum(n)::BIGINT AS nb FROM c GROUP BY 1, 2
            ),
            bt AS (SELECT k, sum(nb)::BIGINT AS n_base FROM b GROUP BY 1),
            cats AS (
              SELECT DISTINCT k, cat FROM c
              UNION SELECT k, cat FROM b
            )
            SELECT t.part AS day, t.k AS from_state, t.n_part, bt.n_base,
                   sum(abs(coalesce(x.n, 0)::BIGINT * bt.n_base
                           - coalesce(b.nb, 0)::BIGINT * t.n_part))::BIGINT
                     AS tv_num,
                   (sum(abs(coalesce(x.n, 0)::BIGINT * bt.n_base
                            - coalesce(b.nb, 0)::BIGINT * t.n_part))::BIGINT
                    / (2.0 * t.n_part * bt.n_base)) AS tv
            FROM tot t
            JOIN bt ON bt.k = t.k
            JOIN cats g ON g.k = t.k
            LEFT JOIN c x ON x.part = t.part AND x.k = g.k AND x.cat = g.cat
            LEFT JOIN b ON b.k = g.k AND b.cat = g.cat
            GROUP BY t.part, t.k, t.n_part, bt.n_base
        """,
        "stream_transitions": """
            WITH e AS (
              SELECT coalesce(event_type, '<null>') AS s,
                     lag(coalesce(event_type, '<null>')) OVER w AS prev
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT coalesce(prev, '<start>') AS from_state, s AS to_state,
                   count(*)::BIGINT AS n
            FROM e GROUP BY 1, 2
        """,
        "d2_cat_drift": """
            WITH c AS (
              SELECT strftime(ts, '%Y-%m-%d') AS part,
                     coalesce(event_type, '<null>') AS cat, count(*) AS n
              FROM events GROUP BY 1, 2
            ),
            tot AS (SELECT part, sum(n)::BIGINT AS n_part FROM c GROUP BY 1),
            g AS (SELECT cat, sum(n)::BIGINT AS nb FROM c GROUP BY 1),
            nt AS (SELECT sum(n)::BIGINT AS n_total FROM c)
            SELECT t.part AS day, t.n_part AS n_part,
                   sum(abs(coalesce(x.n, 0)::BIGINT * nt.n_total
                           - g.nb * t.n_part))::BIGINT AS tv_num,
                   (sum(abs(coalesce(x.n, 0)::BIGINT * nt.n_total
                            - g.nb * t.n_part))::BIGINT
                    / (2.0 * t.n_part * nt.n_total)) AS tv
            FROM tot t
            CROSS JOIN nt
            CROSS JOIN g
            LEFT JOIN c x ON x.part = t.part AND x.cat = g.cat
            GROUP BY t.part, t.n_part, nt.n_total
        """,
        "cms_estimate": """
            WITH ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
            counters AS (
              SELECT ds.d AS d,
                     ('0x' || substr(md5(coalesce(event_type, chr(0))
                                         || chr(31) || ds.d::VARCHAR), 1, 8)
                     )::BIGINT % 256 AS b,
                     count(*)::BIGINT AS cnt
              FROM events, ds GROUP BY 1, 2
            ),
            keys AS (SELECT DISTINCT event_type FROM events)
            SELECT k.event_type AS event_type,
                   min(coalesce(c.cnt, 0))::BIGINT AS est
            FROM keys k
            CROSS JOIN ds
            LEFT JOIN counters c
              ON c.d = ds.d
             AND c.b = ('0x' || substr(md5(coalesce(k.event_type, chr(0))
                                           || chr(31) || ds.d::VARCHAR), 1, 8)
                       )::BIGINT % 256
            GROUP BY 1
        """,
        "cms_heavy_hitters": """
            SELECT user_id, count(*)::BIGINT AS n
            FROM events
            GROUP BY user_id
            HAVING count(*) >= CEIL((SELECT count(*) FROM events) / 128.0)
        """,
        # the packed-bloom pre-test is output-invisible (one-sided), so
        # the streaming verdict contract is the plain semi-join in SQL
        "stream_incr_dedup": """
            WITH nk AS (
              SELECT doc_id,
                     md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                       AS k
              FROM documents WHERE doc_id % 3 = 0
            ),
            ek AS (
              SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                       AS k
              FROM documents WHERE doc_id % 3 <> 0
            )
            SELECT doc_id,
                   CASE WHEN k IN (SELECT k FROM ek) THEN 'exact_dup'
                        ELSE 'new' END AS verdict
            FROM nk
        """,
        # the Bloom bit arithmetic itself replayed: identical md5 key,
        # identical per-seed position, membership = all 4 positions set
        "b1_bloom_contains": """
            WITH ks AS (
              SELECT doc_id,
                     md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                       AS k
              FROM documents
            ),
            ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
            ins AS (
              SELECT DISTINCT
                ('0x' || substr(md5(coalesce(k, chr(0))
                                    || chr(31) || ds.d::VARCHAR), 1, 8)
                )::BIGINT % 2048 AS pos
              FROM ks, ds WHERE doc_id % 2 = 0
            ),
            cand AS (
              SELECT doc_id,
                ('0x' || substr(md5(coalesce(k, chr(0))
                                    || chr(31) || ds.d::VARCHAR), 1, 8)
                )::BIGINT % 2048 AS pos
              FROM ks, ds
            )
            SELECT c.doc_id AS doc_id,
                   (count(i.pos) = 4) AS maybe
            FROM cand c LEFT JOIN ins i ON i.pos = c.pos
            GROUP BY c.doc_id
        """,
        "lang_id": _lang_id_oracle(),
        "stats_quantiles": """
            SELECT 'o_orderkey' AS column,
                   quantile_cont(o_orderkey, 0.25)::DOUBLE AS p25,
                   quantile_cont(o_orderkey, 0.50)::DOUBLE AS p50,
                   quantile_cont(o_orderkey, 0.75)::DOUBLE AS p75,
                   quantile_cont(o_orderkey, 0.95)::DOUBLE AS p95
            FROM orders
            UNION ALL
            SELECT 'o_custkey', quantile_cont(o_custkey, 0.25)::DOUBLE,
                   quantile_cont(o_custkey, 0.50)::DOUBLE,
                   quantile_cont(o_custkey, 0.75)::DOUBLE,
                   quantile_cont(o_custkey, 0.95)::DOUBLE
            FROM orders
            UNION ALL
            SELECT 'o_totalprice', quantile_cont(o_totalprice, 0.25)::DOUBLE,
                   quantile_cont(o_totalprice, 0.50)::DOUBLE,
                   quantile_cont(o_totalprice, 0.75)::DOUBLE,
                   quantile_cont(o_totalprice, 0.95)::DOUBLE
            FROM orders
        """,
        "sim_lsh_topk": _sim_lsh_topk_oracle(),
        "sim_ivf_topk": _sim_ivf_topk_oracle(),
        "j4_position_pattern": """
            SELECT l_linenumber, l_returnflag, l_linestatus, n FROM (
              SELECT l_linenumber, l_returnflag, l_linestatus,
                     count(*) AS n,
                     row_number() OVER (
                       PARTITION BY l_linenumber
                       ORDER BY count(*) DESC, l_returnflag, l_linestatus
                     ) AS rk
              FROM lineitem GROUP BY 1, 2, 3
            ) WHERE rk = 1
        """,
        "sim_near_dup": _sim_near_dup_oracle(),
        "sim_kmeans": f"""
            WITH {_kmeans_ctes()}
            SELECT vec_id, cl AS cluster, round(d, 4) AS sq_dist FROM a2
        """,
        "sim_semantic_dedup": f"""
            WITH {_kmeans_ctes()}
            SELECT id_a, id_b, cluster, cos FROM (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cl AS cluster,
                     round(list_sum(list_transform(range(1,65),
                             i -> a.v[i] * b.v[i]))
                       / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                          * sqrt(list_sum(list_transform(b.v, x -> x * x)))),
                       4) AS cos
              FROM a2 a JOIN a2 b ON a.cl = b.cl AND a.vec_id < b.vec_id)
            WHERE cos >= 0.4
        """,
        "sim_dedup_clusters": _sim_dedup_clusters_oracle(),
        "o1_zorder": _zorder_oracle(),
        "w1_row_position_global": _W1_GLOBAL_ORACLE,
        "w3_greedy_pack": _W3_GREEDY_PACK_ORACLE,
        "a5_extent": _a5_extent_oracle(),
        "u1_align_union": _U1_ALIGN_UNION_ORACLE,
        "v1_uniqueness": """
            SELECT user_id, event_type, count(*) AS n_dups
            FROM events GROUP BY 1, 2 HAVING count(*) > 1
        """,
        "v5_vocab": """
            SELECT event_type, count(*) AS n
            FROM events
            WHERE event_type IS NOT NULL
              AND event_type NOT IN ('click','purchase','signup','view')
            GROUP BY 1
        """,
        "v9_monotone": """
            SELECT event_id, user_id, prev_value, value FROM (
              SELECT event_id, user_id, value,
                     lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS prev_value
              FROM events)
            WHERE prev_value > value
        """,
        "v6_contiguity": """
            SELECT l_orderkey, count(*) AS n,
                   count(DISTINCT l_linenumber) AS nd,
                   min(l_linenumber) AS mn, max(l_linenumber) AS mx
            FROM lineitem GROUP BY 1
            HAVING NOT (min(l_linenumber) = 1 AND max(l_linenumber) = count(*)
                        AND count(DISTINCT l_linenumber) = count(*))
        """,
        "v12_refint": """
            SELECT o_orderkey, o_custkey FROM orders
            WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
        """,
        "v10_range": """
            SELECT event_id, value FROM events
            WHERE NOT (value >= 0 AND value <= 100)
        """,
        "stats_profile": """
            SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
                   count(o_orderkey) AS n_nonnull,
                   count(DISTINCT o_orderkey) AS n_distinct,
                   min(o_orderkey)::DOUBLE AS min_val,
                   max(o_orderkey)::DOUBLE AS max_val
            FROM orders
            UNION ALL
            SELECT 'o_custkey', count(*), count(o_custkey),
                   count(DISTINCT o_custkey),
                   min(o_custkey)::DOUBLE, max(o_custkey)::DOUBLE
            FROM orders
            UNION ALL
            SELECT 'o_totalprice', count(*), count(o_totalprice),
                   count(DISTINCT o_totalprice),
                   min(o_totalprice)::DOUBLE, max(o_totalprice)::DOUBLE
            FROM orders
        """,
        "extent_by_type": """
            SELECT event_type, min(ts) AS time_start, max(ts) AS time_end,
                   count(*) AS n
            FROM events GROUP BY 1
        """,
        "a9_distribution": """
            SELECT event_type, count(*) AS n,
                   count(*)::DOUBLE / sum(count(*)) OVER () AS prob
            FROM events WHERE event_type IS NOT NULL GROUP BY 1
        """,
        "a4_top1": """
            SELECT event_type, count(*) AS n FROM events GROUP BY 1
            ORDER BY n DESC, event_type LIMIT 1
        """,
        "q1_pricing": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty,
                   sum(CAST(l_extendedprice AS DECIMAL(18,2)))::DOUBLE
                     AS sum_base_price,
                   sum(CAST(l_extendedprice AS DECIMAL(18,6))
                       * (CAST(1 AS DECIMAL(8,2))
                          - CAST(l_discount AS DECIMAL(8,2))))::DOUBLE
                     AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY 1, 2
        """,
        "j3_rollup": """
            SELECT o_orderpriority,
                   sum(CAST(l_extendedprice AS DECIMAL(18,6))
                       * (CAST(1 AS DECIMAL(8,2))
                          - CAST(l_discount AS DECIMAL(8,2))))::DOUBLE
                     AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1
        """,
        "j1_broadcast_enrich": """
            SELECT r_name, count(*) AS n_customers,
                   sum(CAST(c_acctbal AS DECIMAL(18,2)))::DOUBLE
                     AS total_acctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY 1
        """,
        "o4_topk": """
            SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1
            ORDER BY n_orders DESC, o_custkey LIMIT 10
        """,
        "w1_row_position": """
            SELECT event_id, user_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) - 1 AS pos
            FROM events WHERE user_id < 5
        """,
        "w3_size_bins": """
            SELECT doc_id,
                   CAST(floor(COALESCE(sum(n_chars) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) / 10000) AS BIGINT) AS bin_id
            FROM documents
        """,
        "dedup_exact": """
            SELECT count(*) AS n_dups,
                   string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS ids
            FROM documents GROUP BY text HAVING count(*) > 1
        """,
        "dedup_containment": f"""
            WITH {_shingle_ctes(1000)},
            sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
            shared AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   shared::DOUBLE / least(sa.n, sb.n) AS containment,
                   CASE WHEN sa.n <= sb.n THEN id_a ELSE id_b END
                     AS contained_id
            FROM shared p
            JOIN sizes sa ON p.id_a = sa.doc_id
            JOIN sizes sb ON p.id_b = sb.doc_id
            WHERE shared::DOUBLE / least(sa.n, sb.n) >= 0.8
        """,
        "dedup_ngram_jaccard": _jaccard_oracle(max_shingle_freq=1000),
        # independent realization: DuckDB computes the CAPLESS exact join
        # directly; the Spark side gets there through prefix + length +
        # positional filters — completeness of all three is on trial
        "dedup_ngram_prefix": _jaccard_oracle(
            max_shingle_freq=None, threshold=0.5
        ),
        "d1_decontaminate": f"""
            WITH {_shingle_ctes(None)},
            bench AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % 17 = 0),
            m AS (
              SELECT c.doc_id, b.bench_id, count(*) AS n_shared
              FROM sh c JOIN bench b USING (s)
              WHERE c.doc_id <> b.bench_id
              GROUP BY 1, 2 HAVING count(*) >= 3
            )
            SELECT doc_id, count(*) AS n_bench_hits, max(n_shared) AS max_shared
            FROM m GROUP BY doc_id
        """,
        "d8_sem_decontaminate": """
            WITH b AS (
              SELECT vec_id AS bench_id, embedding AS be
              FROM embeddings WHERE vec_id % 17 = 0
            ),
            s AS (
              SELECT e.vec_id, b.bench_id,
                     round(list_sum(list_transform(
                         range(1, len(e.embedding) + 1),
                         i -> e.embedding[i]::DOUBLE * b.be[i]::DOUBLE))
                     / (sqrt(list_sum(list_transform(e.embedding,
                          x -> x::DOUBLE * x::DOUBLE)))
                        * sqrt(list_sum(list_transform(b.be,
                          x -> x::DOUBLE * x::DOUBLE)))), 4) AS c
              FROM embeddings e, b WHERE e.vec_id <> b.bench_id
            )
            SELECT vec_id, count(*) AS n_bench_hits, max(c) AS max_cos
            FROM s WHERE c >= 0.35 GROUP BY vec_id
        """,
        # positional shingles (repeats kept), identical doc-frequency cap,
        # identical island arithmetic — exact integer replay
        "dedup_substring_run": """
            WITH tokp AS (
              SELECT doc_id, string_split(text, ' ') w FROM documents
              WHERE len(string_split(text, ' ')) >= 3
            ),
            psh0 AS (
              SELECT doc_id, i AS pos, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
              FROM tokp, unnest(generate_series(1, len(w) - 2)) AS t(i)
            ),
            psh AS (
              SELECT psh0.* FROM psh0
              JOIN (SELECT s FROM psh0 GROUP BY s
                    HAVING count(DISTINCT doc_id) <= 100) keep USING (s)
            ),
            matched AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     a.pos AS pa, a.pos - b.pos AS diff
              FROM psh a JOIN psh b ON a.s = b.s AND a.doc_id < b.doc_id
            ),
            isl AS (
              SELECT id_a, id_b, diff,
                     pa - row_number() OVER (
                       PARTITION BY id_a, id_b, diff ORDER BY pa) AS island
              FROM matched
            ),
            runs AS (
              SELECT id_a, id_b, count(*) AS run_len
              FROM isl GROUP BY id_a, id_b, diff, island
              HAVING count(*) >= 3
            )
            SELECT id_a, id_b, (max(run_len) + 2)::BIGINT AS max_run_tokens,
                   count(*) AS n_runs
            FROM runs GROUP BY id_a, id_b
        """,
        "dedup_common_spans": """
            WITH w AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS word,
                     generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
              FROM documents
            ), b AS (
              SELECT doc_id, pos // 6 AS blk,
                     string_agg(word, ' ' ORDER BY pos) AS seg
              FROM w GROUP BY doc_id, pos // 6
            ), c AS (
              SELECT seg FROM b GROUP BY seg
              HAVING count(DISTINCT doc_id) >= 2
            ), j AS (
              SELECT b.doc_id, b.blk, b.seg, c.seg IS NOT NULL AS hit
              FROM b LEFT JOIN c ON b.seg = c.seg
            )
            SELECT doc_id,
                   count(*) FILTER (hit)::INT AS n_removed,
                   coalesce(string_agg(seg, ' ' ORDER BY blk)
                            FILTER (NOT hit), '') AS text_clean
            FROM j GROUP BY doc_id
            HAVING count(*) FILTER (hit) > 0
        """,
        # winnowing selection replayed relationally: k=3 word grams,
        # 32-bit md5-prefix hash, w=4 windows (frame min), leftmost-min
        # position via a per-window arg-min join, DISTINCT collapses
        # adjacent windows selecting the same fingerprint. Full windows
        # only (j <= ng - w) except the short-doc single window at j=0.
        "text_winnow": """
            WITH wds AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS word,
                     generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
              FROM documents
            ), g AS (
              SELECT doc_id, pos,
                     concat_ws(' ', word,
                       lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos),
                       lead(word, 2) OVER (PARTITION BY doc_id ORDER BY pos)
                     ) AS gram,
                     count(*) OVER (PARTITION BY doc_id) AS n_words
              FROM wds
            ), gh AS (
              SELECT doc_id, pos,
                     ('0x' || substr(md5(gram), 1, 8))::BIGINT AS h,
                     (n_words - 2)::INT AS ng
              FROM g WHERE pos <= n_words - 3
            ), m AS (
              SELECT doc_id, pos AS j, ng,
                     min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN CURRENT ROW
                                  AND 3 FOLLOWING) AS minh
              FROM gh
            ), wins AS (
              SELECT doc_id, j, minh FROM m
              WHERE j <= greatest(ng - 4, 0)
            ), sel AS (
              SELECT w.doc_id, min(g2.pos) AS pos, w.minh AS h
              FROM wins w JOIN gh g2
                ON g2.doc_id = w.doc_id
               AND g2.pos BETWEEN w.j AND w.j + 3
               AND g2.h = w.minh
              GROUP BY w.doc_id, w.j, w.minh
            )
            SELECT DISTINCT doc_id, pos::INT AS pos, h FROM sel
        """,
        "dedup_winnow_pairs": """
            WITH wds AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS word,
                     generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
              FROM documents
            ), g AS (
              SELECT doc_id, pos,
                     concat_ws(' ', word,
                       lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos),
                       lead(word, 2) OVER (PARTITION BY doc_id ORDER BY pos)
                     ) AS gram,
                     count(*) OVER (PARTITION BY doc_id) AS n_words
              FROM wds
            ), gh AS (
              SELECT doc_id, pos,
                     ('0x' || substr(md5(gram), 1, 8))::BIGINT AS h,
                     (n_words - 2)::INT AS ng
              FROM g WHERE pos <= n_words - 3
            ), m AS (
              SELECT doc_id, pos AS j, ng,
                     min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN CURRENT ROW
                                  AND 3 FOLLOWING) AS minh
              FROM gh
            ), fp AS (
              SELECT DISTINCT doc_id, minh AS h FROM m
              WHERE j <= greatest(ng - 4, 0)
            ), capped AS (
              SELECT h FROM fp GROUP BY h HAVING count(*) <= 100
            ), fpc AS (
              SELECT fp.doc_id, fp.h FROM fp JOIN capped USING (h)
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   count(*)::BIGINT AS n_shared
            FROM fpc a JOIN fpc b ON a.h = b.h AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING count(*) >= 2
        """,
        # batch split replayed on the shared shingle CTEs; md5 key matches
        # the Spark portable_key path (same normalization, same hex)
        "i1_incremental_dedup": f"""
            WITH {_shingle_ctes(None)},
            newd AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
            nk AS (
              SELECT doc_id AS id,
                     md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS k
              FROM documents WHERE doc_id % 3 = 0
            ),
            ek AS (
              SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS k
              FROM documents WHERE doc_id % 3 <> 0
            ),
            exact_ids AS (
              SELECT id FROM nk WHERE k IN (SELECT k FROM ek)
              UNION
              SELECT id FROM (
                SELECT id, row_number() OVER (PARTITION BY k ORDER BY id) rn
                FROM nk) WHERE rn > 1
            ),
            shn AS (SELECT * FROM sh WHERE doc_id % 3 = 0),
            she AS (SELECT * FROM sh WHERE doc_id % 3 <> 0),
            nn AS (SELECT doc_id, count(*) na FROM shn GROUP BY 1),
            ne AS (SELECT doc_id, count(*) nb FROM she GROUP BY 1),
            shr AS (
              SELECT a.doc_id idn, b.doc_id ide, count(*) AS shared
              FROM shn a JOIN she b USING (s) GROUP BY 1, 2
            ),
            near_ids AS (
              SELECT DISTINCT idn AS id FROM shr
              JOIN nn ON nn.doc_id = idn
              JOIN ne ON ne.doc_id = ide
              WHERE shared::DOUBLE / (na + nb - shared) >= 0.3
            )
            SELECT n.doc_id AS id,
                   CASE WHEN e.id IS NOT NULL THEN 'exact_dup'
                        WHEN r.id IS NOT NULL THEN 'near_dup'
                        ELSE 'keep' END AS verdict
            FROM newd n
            LEFT JOIN exact_ids e ON e.id = n.doc_id
            LEFT JOIN near_ids r ON r.id = n.doc_id
        """,
        "text_distinctive_terms": """
            WITH tf AS (
              SELECT id, term, count(*) AS tf FROM (
                SELECT doc_id AS id,
                       lower(unnest(string_split(text, ' '))) AS term
                FROM documents)
              WHERE term <> '' GROUP BY 1, 2
            ),
            dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            sc AS (
              SELECT id, term, tf.tf AS tf, dfq.df AS df,
                     (tf.tf * 1000000) // dfq.df AS score
              FROM tf JOIN dfq USING (term)
            )
            SELECT id, term, tf, df, score, rank FROM (
              SELECT *, (row_number() OVER (
                PARTITION BY id ORDER BY score DESC, term))::INT AS rank
              FROM sc) WHERE rank <= 3
        """,
        "dedup_minhash": _minhash_oracle(),
        # the streaming emitter's contract IS the batch candidate stage:
        # the shared CTE chain stopped at `cand`
        "stream_minhash_cands": (
            f"WITH {_minhash_cand_ctes()}\n"
            "            SELECT id_a, id_b FROM cand"
        ),
        "dedup_simhash": _simhash_oracle(),
        "sim_topk": """
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            scored AS (
              SELECT vec_id,
                     list_sum(list_transform(range(1, len(embedding) + 1),
                        i -> embedding[i]::DOUBLE * qe[i]::DOUBLE))
                     / (sqrt(list_sum(list_transform(embedding,
                          x -> x::DOUBLE * x::DOUBLE)))
                        * sqrt(list_sum(list_transform(qe,
                          x -> x::DOUBLE * x::DOUBLE)))) AS c
              FROM embeddings, q WHERE vec_id <> 0
            )
            SELECT vec_id, round(c, 4) AS cos FROM scored
            ORDER BY cos DESC, vec_id LIMIT 10
        """,
        "text_stats": """
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_tokens,
                   length(text) AS n_chars,
                   length(text)::DOUBLE
                     / greatest(len(string_split(text, ' ')), 1)
                     AS mean_token_len
            FROM documents
        """,
        # independent realization: the Spark side computes everything as
        # per-row array expressions; DuckDB recomputes via unnest + groupBy
        # + window argmax over the SAME line/token/gram definitions
        "text_repetition": """
            WITH d AS (
              SELECT doc_id,
                     replace(text, ' data ', chr(10) || 'data' || chr(10)) AS t
              FROM documents
            ),
            base AS (SELECT doc_id, t, length(t) AS n_chars FROM d),
            lns AS (
              SELECT doc_id, l
              FROM d, unnest(string_split(t, chr(10))) AS u(l)
              WHERE length(l) > 0
            ),
            line_grp AS (
              SELECT doc_id, l, count(*) AS c, length(l) AS ll
              FROM lns GROUP BY doc_id, l
            ),
            line_stats AS (
              SELECT doc_id,
                     sum(c)::BIGINT AS n_lines,
                     count(*)::BIGINT AS n_dist,
                     sum(c * ll)::BIGINT AS tot_chars,
                     sum(CASE WHEN c > 1 THEN c * ll ELSE 0 END)::BIGINT
                       AS dup_chars
              FROM line_grp GROUP BY doc_id
            ),
            tok AS (
              SELECT doc_id, regexp_split_to_array(trim(t), '\\s+') AS toks
              FROM d
            ),
            g2 AS (
              SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS g
              FROM tok, unnest(generate_series(1, len(toks) - 1)) AS s(i)
            ),
            g2c AS (
              SELECT doc_id, g, count(*) AS c, length(g) AS gl
              FROM g2 GROUP BY doc_id, g
            ),
            top2 AS (
              SELECT doc_id, c * gl AS chars,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY c DESC, gl DESC, g DESC)
                       AS rn
              FROM g2c
            ),
            g3 AS (
              SELECT doc_id,
                     toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS g
              FROM tok, unnest(generate_series(1, len(toks) - 2)) AS s(i)
            ),
            g3c AS (
              SELECT doc_id, g, count(*) AS c, length(g) AS gl
              FROM g3 GROUP BY doc_id, g
            ),
            dup3 AS (
              SELECT doc_id, sum(c * gl)::BIGINT AS chars
              FROM g3c WHERE c > 1 GROUP BY doc_id
            )
            SELECT b.doc_id,
                   coalesce(ls.n_lines, 0)::BIGINT AS n_lines,
                   (coalesce(ls.n_lines, 0) - coalesce(ls.n_dist, 0))::DOUBLE
                     / greatest(coalesce(ls.n_lines, 0), 1) AS dup_line_frac,
                   coalesce(ls.dup_chars, 0)::DOUBLE
                     / greatest(coalesce(ls.tot_chars, 0), 1)
                     AS dup_line_char_frac,
                   coalesce(t2.chars, 0)::DOUBLE / greatest(b.n_chars, 1)
                     AS top_bigram_frac,
                   coalesce(d3.chars, 0)::DOUBLE / greatest(b.n_chars, 1)
                     AS dup_trigram_frac
            FROM base b
            LEFT JOIN line_stats ls ON b.doc_id = ls.doc_id
            LEFT JOIN (SELECT doc_id, chars FROM top2 WHERE rn = 1) t2
              ON b.doc_id = t2.doc_id
            LEFT JOIN dup3 d3 ON b.doc_id = d3.doc_id
        """,
        "text_lang_distribution": """
            SELECT lang, count(*) AS n,
                   count(*)::DOUBLE / sum(count(*)) OVER () AS prob
            FROM documents WHERE lang IS NOT NULL GROUP BY 1
        """,
        "w4_sessionize": """
            SELECT event_id, user_id,
                   sum(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW)::BIGINT AS session_id
            FROM (
              SELECT event_id, user_id, ts,
                     CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (
                              PARTITION BY user_id ORDER BY ts, event_id
                          ) > 1800 THEN 1 ELSE 0 END AS gap
              FROM events)
        """,
        "a7_extent_union": """
            SELECT min(time_start) AS time_start, max(time_end) AS time_end
            FROM (SELECT event_type, min(ts) AS time_start, max(ts) AS time_end
                  FROM events GROUP BY 1)
        """,
        "pivot_by_day": """
            SELECT strftime(ts, '%Y-%m-%d') AS day,
                   sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_click,
                   sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n_view,
                   sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchase,
                   sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS n_signup,
                   sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_error
            FROM events GROUP BY 1
        """,
        "skew_salted_agg": """
            SELECT user_id, count(*) AS n, min(ts) AS min_ts,
                   max(ts) AS max_ts, max(value) AS max_value
            FROM events GROUP BY 1
        """,
        # identical md5 keep-decision arithmetic as operators/sampling.py
        # md5 mode: bucket = first-32-md5-bits("<id>\x1f<seed>") mod 1e6,
        # kept iff bucket < round(fraction * 1e6) for the row's stratum
        "s1_stratified_sample": """
            SELECT event_id, event_type, user_id FROM events
            WHERE ('0x' || substr(
                     md5(event_id::VARCHAR || chr(31) || '7'), 1, 8)
                  )::BIGINT % 1000000
                  < CASE event_type
                      WHEN 'click' THEN 500000
                      WHEN 'purchase' THEN 1000000
                      WHEN 'view' THEN 100000
                      ELSE 50000
                    END
        """,
        # the patterns below are string-identical to functions/pii.py's
        # PII_PATTERNS (portable Java∩RE2 dialect); redaction order is the
        # module's canonical email → ipv4 → ssn → phone
        "p1_pii_redact": r"""
            WITH d AS (
              SELECT c_custkey,
                     'reach ' || c_name || ' at user' || c_custkey
                       || '@mail.example.com or +1-555-'
                       || lpad((c_custkey % 10000)::VARCHAR, 4, '0')
                       || ' ip 10.0.' || (c_custkey % 256)::VARCHAR
                       || '.' || c_nationkey::VARCHAR AS t
              FROM customer
            )
            SELECT c_custkey,
                   len(regexp_extract_all(t,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::INT
                     AS n_email,
                   len(regexp_extract_all(t,
                     '\+?\d{1,3}(-\d{3,4}){2,3}\b'))::INT AS n_phone,
                   len(regexp_extract_all(t,
                     '\b(\d{1,3}\.){3}\d{1,3}\b'))::INT AS n_ipv4,
                   len(regexp_extract_all(t,
                     '\b\d{3}-\d{2}-\d{4}\b'))::INT AS n_ssn,
                   regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                     '[email]', 'g'),
                     '\b(\d{1,3}\.){3}\d{1,3}\b', '[ipv4]', 'g'),
                     '\b\d{3}-\d{2}-\d{4}\b', '[ssn]', 'g'),
                     '\+?\d{1,3}(-\d{3,4}){2,3}\b', '[phone]', 'g') AS redacted
            FROM d
        """,
        # mixture rates = min(1, prop*T/n) with floor-truncated float64
        # thresholds — arithmetic order mirrors mixture_sample exactly
        "m1_mixture_sample": """
            WITH cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
            rates AS (
              SELECT source,
                     floor(least(1.0,
                       CASE source WHEN 'src0' THEN 0.5
                                   WHEN 'src1' THEN 0.3
                                   WHEN 'src2' THEN 0.2
                                   ELSE 0.0 END * 60.0 / n) * 1000000.0
                     )::BIGINT AS thr
              FROM cnt
            )
            SELECT d.doc_id, d.source
            FROM documents d JOIN rates USING (source)
            WHERE ('0x' || substr(
                     md5(d.doc_id::VARCHAR || chr(31) || '11'), 1, 8)
                  )::BIGINT % 1000000 < thr
        """,
        "m2_weighted_sample": """
            SELECT doc_id, n_chars FROM documents
            WHERE ('0x' || substr(
                     md5(doc_id::VARCHAR || chr(31) || '11'), 1, 8)
                  )::BIGINT % 1000000
                  < floor(least(greatest(n_chars / 400.0, 0.0), 1.0)
                          * 1000000.0)::BIGINT
        """,
        # same md5 bucket arithmetic, ranked per group with the identical
        # (hash, key) tie-break the Spark window applies
        "s2_sample_k_per_group": """
            WITH h AS (
              SELECT event_type, event_id, user_id,
                     ('0x' || substr(
                        md5(event_id::VARCHAR || chr(31) || '7'), 1, 8)
                     )::BIGINT % 1000000 AS hb
              FROM events
            )
            SELECT event_type, event_id, user_id FROM (
              SELECT *, row_number() OVER (
                       PARTITION BY event_type ORDER BY hb, event_id) AS rn
              FROM h
            ) WHERE rn <= 5
        """,
        # DuckDB's native backward-inclusive ASOF LEFT JOIN vs the Spark
        # union-tag/window encoding — independent realizations
        "j5_asof_join": """
            WITH clicks AS (
              SELECT user_id, ts, arg_max(value, event_id) AS prior_value
              FROM events WHERE event_type = 'click' GROUP BY 1, 2
            ),
            p AS (
              SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase'
            )
            SELECT p.event_id, c.prior_value, c.ts AS prior_ts
            FROM p ASOF LEFT JOIN clicks c
              ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
        # direct inequality join — independent of the Spark side's
        # bin-replication rewrite
        "j6_range_join": """
            SELECT p.event_id, count(*)::BIGINT AS n_clicks_1h
            FROM events p
            JOIN events c
              ON c.user_id = p.user_id
             AND c.event_type = 'click'
             AND epoch(c.ts) BETWEEN epoch(p.ts) - 3600 AND epoch(p.ts)
            WHERE p.event_type = 'purchase'
            GROUP BY 1
        """,
        # streaming dedup: survivors' normalized text == distinct
        # normalized text of the base table (the staged stream only adds
        # rows that normalize to existing texts)
        "stream_dedup": """
            SELECT DISTINCT
              lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))
                AS norm_text
            FROM documents
        """,
        # the batch sessionization rule in SQL: lag + gap>1800 cumsum,
        # session_end = last event + gap (the session-window close)
        "stream_sessionize": """
            WITH marked AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN epoch(ts) - epoch(lag(ts) OVER
                            (PARTITION BY user_id ORDER BY ts, event_id))
                          > 1800 THEN 1 ELSE 0 END AS brk
              FROM events
            ),
            sess AS (
              SELECT user_id, ts,
                     sum(brk) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS sid
              FROM marked
            )
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) + INTERVAL 1800 SECOND AS session_end,
                   count(*)::BIGINT AS n_events
            FROM sess GROUP BY user_id, sid
        """,
        # identical count + row_number windows, same (score desc, id)
        # tie-break
        "t1_quality_filter": """
            SELECT doc_id, lang, n_chars FROM (
              SELECT doc_id, lang, n_chars,
                     row_number() OVER (
                       PARTITION BY lang
                       ORDER BY n_chars DESC, doc_id) AS rn,
                     count(*) OVER (PARTITION BY lang) AS n
              FROM documents
            ) WHERE rn <= ceil(n * 0.4)
        """,
        "dedup_clusters": _dedup_clusters_oracle(),
        "dedup_clusters_best": _dedup_clusters_best_oracle(),
        "s4_leakage_split": _leakage_split_oracle(),
        "s5_split_leakage": _split_leakage_oracle(),
        "sim_join_topk": _sim_join_topk_oracle(),
        "sim_join_topk_blocked": _sim_join_topk_oracle(),
        "sim_join_lsh": _sim_join_lsh_oracle(),
        "dedup_soft": """
            WITH g AS (
              SELECT doc_id, substr(text, 1, 40) AS k FROM documents
            ),
            c AS (SELECT k, count(*) AS n FROM g GROUP BY 1)
            SELECT doc_id, n::BIGINT AS n_copies,
                   (('0x' || substr(
                       md5(doc_id::VARCHAR || chr(31) || '0'), 1, 8)
                    )::BIGINT % 1000000)
                     < least(1000000.0, floor(1000000.0 / n)) AS kept
            FROM g JOIN c USING (k)
        """,
        "w9_shuffle_shards": """
            WITH h AS (
              SELECT doc_id,
                     ('0x' || substr(
                        md5(doc_id::VARCHAR || chr(31) || '7'), 1, 15)
                     )::BIGINT AS hv
              FROM documents
            )
            SELECT doc_id, (hv % 4)::INT AS shard,
                   (row_number() OVER (PARTITION BY hv % 4
                                       ORDER BY hv, doc_id) - 1)::INT AS pos
            FROM h
        """,
        "t3_robust_outliers": """
            WITH med AS (
              SELECT event_type, quantile_cont(value, 0.5) AS med
              FROM events GROUP BY 1
            ),
            dev AS (
              SELECT e.event_id, e.event_type, e.value, m.med,
                     abs(e.value - m.med) AS d
              FROM events e JOIN med m USING (event_type)
            ),
            mad AS (
              SELECT event_type, quantile_cont(d, 0.5) AS mad
              FROM dev GROUP BY 1
            )
            SELECT dev.event_id, dev.event_type, dev.value, dev.med,
                   mad.mad, dev.d > 3.0 * mad.mad AS is_outlier
            FROM dev JOIN mad USING (event_type)
        """,
        "t4_winsorize": """
            WITH q AS (
              SELECT event_type,
                     quantile_cont(value, 0.05) AS qlo,
                     quantile_cont(value, 0.95) AS qhi
              FROM events GROUP BY 1
            )
            SELECT e.event_id, e.event_type, e.value,
                   CASE WHEN e.value IS NOT NULL
                        THEN least(greatest(e.value, qlo), qhi)
                   END AS value_wins
            FROM events e JOIN q USING (event_type)
        """,
        "t2_bigram_score": """
            WITH tok AS (
              SELECT doc_id, string_split(trim(text), ' ') AS w
              FROM documents
            ),
            occ AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(w)),
                            i -> w[i] || ' ' || w[i+1])) AS bg
              FROM tok WHERE len(w) >= 2
            ),
            cnt AS (SELECT bg, count(*) AS c FROM occ GROUP BY 1),
            per AS (
              SELECT doc_id,
                     count(*)::BIGINT AS n_bigrams,
                     sum(c)::BIGINT AS sum_freq,
                     sum(CASE WHEN c <= 2 THEN 1 ELSE 0 END)::BIGINT
                       AS n_rare
              FROM occ JOIN cnt USING (bg) GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(n_bigrams, 0)::BIGINT AS n_bigrams,
                   coalesce(sum_freq, 0)::BIGINT AS sum_freq,
                   coalesce(n_rare, 0)::BIGINT AS n_rare
            FROM documents d LEFT JOIN per USING (doc_id)
        """,
        "a12_gini_diversity": """
            WITH c AS (
              SELECT source, lang, count(*) AS n
              FROM documents GROUP BY 1, 2
            ), g AS (
              SELECT source,
                     sum(n)::BIGINT AS n_rows,
                     count(*)::BIGINT AS n_cats,
                     sum(n * (n - 1))::BIGINT AS same
              FROM c GROUP BY 1
            )
            -- exact BIGINT category-count arithmetic; ONE double division
            -- at the end mirrors gini_simpson's bit-stable construction
            SELECT source, n_rows, n_cats,
                   CASE WHEN n_rows >= 2
                        THEN 1.0 - same / (n_rows * (n_rows - 1))
                   END AS diversity
            FROM g
        """,
    }
