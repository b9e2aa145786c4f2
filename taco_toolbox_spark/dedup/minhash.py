"""MinHash + LSH near-duplicate detection — the 100 TB scale path.

Pipeline (all JVM-side, zero Python UDFs):
  shingle -> k minhash values        explode + groupBy(id) with k min(hash)
  signature -> b bands of r rows     band hash = xxhash64 of the band slice
  band bucket join                   candidates = pairs sharing any bucket
  verify                             exact Jaccard, counted ONLY for
                                     candidate pairs (join each pair's
                                     id_a-shingles against id_b's set)

Unlike brute-force Jaccard (pairs every doc sharing a shingle), LSH bounds
the join fan-out: only documents agreeing on an entire band collide. With
b bands of r rows, P(collide) = 1-(1-j^r)^b — the S-curve threshold is
(1/b)^(1/r) (~0.59 for the default 8x4), so candidates are certified for
high-jaccard pairs; use tune_bands() to pick (b, r) for a lower threshold.

Scale hygiene (round-2): ``max_bucket_size`` drops degenerate band buckets
(k identical docs would otherwise make k^2 candidates); verification joins
shingles THROUGH the candidate pair list instead of re-deriving all
shared-shingle pairs among candidate docs; and nothing is persisted — the
shingle explode is ~10x the input, so caching it at 100 TB means spilling
~1 PB, strictly worse than recomputing a scan-shaped explode whose shuffle
Spark already reuses (byte-identical exchange => ReusedExchange).

Each of the k hash functions is xxhash64(shingle, seed_i) — deterministic,
no RNG state to ship. The engine-portable "md5" mode instead computes ONE
md5 per shingle and derives all k values from a 2-universal permutation
family over its 32-bit halves (constants inlined in the DuckDB oracle
SQL), so portability costs one digest, not k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .ngram import shingles


#: 2-universal permutation family for the engine-portable ("md5") hash
#: mode: p = 2^31 - 1 (Mersenne), h_i = (a_i*h1 % p + b_i*h2 % p + c_i) % p
#: over the two 32-bit halves (h1, h2) of ONE md5 per shingle. All
#: arithmetic fits signed 64-bit ((2^31-1)*(2^32-1) < 2^63-1), so DuckDB
#: BIGINT computes the identical values with the same constants inlined.
#: Round-2's md5 mode computed md5(shingle || '#' || i) per hash function —
#: 32 md5 invocations per shingle, measured ~5x the whole-query cost.
MINHASH_P = (1 << 31) - 1


def _perm_constants(k: int) -> tuple[list[int], list[int], list[int]]:
    """Deterministic permutation constants via a fixed 64-bit LCG — no RNG
    state to ship; the oracle inlines the same integers as SQL literals."""
    a: list[int] = []
    b: list[int] = []
    c: list[int] = []
    x = 0x5EED5EED
    for _ in range(k):
        out = []
        for _ in range(3):
            x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            out.append(x)
        a.append(out[0] % (MINHASH_P - 1) + 1)
        b.append(out[1] % (MINHASH_P - 1) + 1)
        c.append(out[2] % MINHASH_P)
    return a, b, c


MINHASH_A, MINHASH_B, MINHASH_C = _perm_constants(64)


def _ensure_perm_constants(k: int) -> None:
    """Grow the precomputed family to >= k functions. The LCG stream is
    fixed, so regenerating at a larger k keeps the existing prefix
    bit-identical (oracles inlining the first 64 stay valid)."""
    if k > len(MINHASH_A):
        a, b, c = _perm_constants(k)
        MINHASH_A[:], MINHASH_B[:], MINHASH_C[:] = a, b, c


def add_portable_hash(sh: DataFrame) -> DataFrame:
    """Append ``_h1``/``_h2``: the two 32-bit halves of ONE md5 per
    shingle (DuckDB: ``('0x' || substr(md5(s), 1, 8))::BIGINT`` and
    ``substr(md5(s), 9, 8)``), the shared base for every md5-mode hash
    function — md5 runs once per shingle, not once per permutation."""
    m = F.md5(F.col("shingle"))
    return sh.withColumn(
        "_h1", F.conv(F.substring(m, 1, 8), 16, 10).cast("long")
    ).withColumn("_h2", F.conv(F.substring(m, 9, 8), 16, 10).cast("long"))


def shingle_hash(i: int, hash_fn: str = "xxhash64") -> F.Column:
    """Hash function i over the shingle row. "xxhash64" (default):
    xxhash64(shingle, i) — fastest, Spark-only. "md5": the 2-universal
    permutation over the md5 halves added by :func:`add_portable_hash`
    (call it first) — bit-identical in any engine with 64-bit ints and
    md5, so the entire minhash+LSH pipeline can be replicated in oracle
    SQL."""
    if hash_fn == "xxhash64":
        return F.xxhash64(F.col("shingle"), F.lit(i))
    if hash_fn == "md5":
        _ensure_perm_constants(i + 1)
        # one parsed SQL string instead of ~12 Column-operator py4j round
        # trips per hash function (the signature builders construct
        # num_hashes of these per call — measured 1.23s of pure driver
        # py4j wait for the 32-hash list at bench build time, ~0.1s
        # parsed). `L` suffixes pin every literal to LongType so the
        # arithmetic runs in the same 64-bit remainder/add tree as the
        # Column form — A,B < p < 2^31 and the md5 halves < 2^32 keep
        # every product under 2^63, so the values are bit-identical.
        p = MINHASH_P
        return F.expr(
            f"(({MINHASH_A[i]}L * _h1) % {p}L"
            f" + ({MINHASH_B[i]}L * _h2) % {p}L"
            f" + {MINHASH_C[i]}L) % {p}L"
        )
    raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")


def tune_bands(num_hashes: int, threshold: float) -> tuple[int, int]:
    """(bands, rows_per_band) with bands*rows = num_hashes and the largest
    rows_per_band whose S-curve threshold (1/b)^(1/r) stays <= threshold
    (recall-biased: prefer more selective bands when the target allows)."""
    best = (num_hashes, 1)
    for r in range(num_hashes, 0, -1):
        if num_hashes % r:
            continue
        b = num_hashes // r
        if (1.0 / b) ** (1.0 / r) <= threshold:
            return b, r
    return best


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, sig array<long>[num_hashes]): per-doc minhash signature.
    One explode + ONE aggregation computing all k minima (map-side combine
    shrinks the shuffle to k longs per doc). ``hash_fn="md5"`` switches to
    the engine-portable family (see :func:`shingle_hash`)."""
    sh = shingles(df, text_col, id_col, n)
    if hash_fn == "md5":
        _ensure_perm_constants(num_hashes)
        sh = add_portable_hash(sh)
    mins = [
        F.min(shingle_hash(i, hash_fn)).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = sh.groupBy("id").agg(*mins)
    return sig.select("id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))


def minhash_signature_col(
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    hash_fn: str = "xxhash64",
) -> F.Column:
    """Per-ROW minhash signature as a pure column expression — the same
    values ``minhash_signatures`` computes (min over the doc's shingle
    hashes; min is duplicate-invariant, so the exploded-groupBy and the
    in-row array_min agree exactly), but with NO aggregation in the plan.
    That is what lets a STREAMING frame carry signatures: a projection
    streams, a groupBy would demand watermark/state machinery. NULL for
    docs shorter than one shingle (no signature in the batch path
    either). As a single expression the captured shingle array is
    re-evaluated inside every hash function's lambda (HOF expression
    substitution — see dedup/winnow.py:_selection_from_hashes), so
    DataFrame paths use :func:`with_minhash_signature`, which stages the
    token/shingle/half arrays as bound columns first; keep this form for
    composing into other column expressions on small frames.
    ``hash_fn="md5"`` computes the engine-portable
    family — ONE md5 per shingle into (h1, h2) halves, then the
    permutation per hash function, mirroring :func:`add_portable_hash` +
    :func:`shingle_hash` value-for-value."""
    from ..functions.text import tokens

    toks = tokens(text_col)
    sh = F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            )
        ),
    )
    if hash_fn == "xxhash64":
        return F.array(
            *[
                F.array_min(
                    F.transform(sh, lambda s: F.xxhash64(s, F.lit(i)))
                )
                for i in range(num_hashes)
            ]
        )
    if hash_fn != "md5":
        raise ValueError(
            f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}"
        )
    _ensure_perm_constants(num_hashes)
    p = F.lit(MINHASH_P)

    def _halves(s: F.Column) -> F.Column:
        m = F.md5(s)
        return F.struct(
            F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("h2"),
        )

    hs = F.transform(sh, _halves)  # one md5 per shingle, all k reuse it
    return F.array(
        *[
            F.array_min(
                F.transform(
                    hs,
                    lambda x: (
                        (F.lit(MINHASH_A[i]) * x["h1"]) % p
                        + (F.lit(MINHASH_B[i]) * x["h2"]) % p
                        + F.lit(MINHASH_C[i])
                    )
                    % p,
                )
            )
            for i in range(num_hashes)
        ]
    )


def with_minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "sig",
    n: int = 3,
    num_hashes: int = 32,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """``df`` plus a per-row minhash signature column ``out_col`` — the
    same values as :func:`minhash_signature_col`, but computed through
    STAGED projections that materialize the token array, the shingle
    array, and (md5 mode) the per-shingle hash halves as bound columns
    before any lambda references them. A higher-order-function lambda
    inlines its captured expression tree, so the single-expression
    variant re-splits the text per shingle and rebuilds the shingle
    array per hash function — O(num_hashes x grams x text_len) per row
    (the pitfall documented at dedup/winnow.py:_selection_from_hashes).
    Here each of the ``num_hashes`` traversals walks an
    already-materialized array. Pure projections throughout, so it works
    on STREAMING frames (the stream_minhash_candidates path)."""
    from ..functions.text import tokens

    internals = {"_mh_toks", "_mh_sh", "_mh_hh"}
    clash = internals & set(df.columns)
    if clash or out_col in internals:
        raise ValueError(
            f"with_minhash_signature reserves columns {sorted(internals)}"
        )
    toks = F.col("_mh_toks")
    sh_expr = F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            )
        ),
    )
    staged = df.withColumn("_mh_toks", tokens(text_col)).withColumn(
        "_mh_sh", sh_expr
    )
    sh = F.col("_mh_sh")
    if hash_fn == "xxhash64":
        sig = F.array(
            *[
                F.array_min(F.transform(sh, lambda s: F.xxhash64(s, F.lit(i))))
                for i in range(num_hashes)
            ]
        )
        return staged.withColumn(out_col, sig).drop("_mh_toks", "_mh_sh")
    if hash_fn != "md5":
        raise ValueError(
            f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}"
        )
    _ensure_perm_constants(num_hashes)
    p = F.lit(MINHASH_P)

    def _halves(s: F.Column) -> F.Column:
        m = F.md5(s)
        return F.struct(
            F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("h2"),
        )

    staged = staged.withColumn("_mh_hh", F.transform(sh, _halves))
    hh = F.col("_mh_hh")
    sig = F.array(
        *[
            F.array_min(
                F.transform(
                    hh,
                    lambda x: (
                        (F.lit(MINHASH_A[i]) * x["h1"]) % p
                        + (F.lit(MINHASH_B[i]) * x["h2"]) % p
                        + F.lit(MINHASH_C[i])
                    )
                    % p,
                )
            )
            for i in range(num_hashes)
        ]
    )
    return staged.withColumn(out_col, sig).drop(
        "_mh_toks", "_mh_sh", "_mh_hh"
    )


def band_structs(
    sig_col: str, bands: int, rows_per_band: int
) -> F.Column:
    """Array of (band, bucket) structs for a signature column — the ONE
    definition of LSH banding, shared by the batch pair generator and the
    streaming candidate emitter so both sides bucket identically."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at(sig_col, b * rows_per_band + r + 1)
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 8,
    rows_per_band: int = 4,
    max_bucket_size: int | None = 10_000,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing >= 1 LSH band bucket.
    Buckets larger than ``max_bucket_size`` are dropped before pairing — a
    degenerate bucket of k near-identical docs makes k^2 candidates, and at
    the default cap that is already 10^8 pairs from one bucket.

    ``carry_cols``: extra per-doc columns of ``signatures`` (each must be
    functionally determined by ``id``) carried through the bucket join and
    emitted as ``<col>_a`` / ``<col>_b`` on each pair. Threading the doc's
    shingle count this way lets the verify stage skip a whole extra pass
    over the shingle table (one groupBy + two joins) — at corpus scale
    that pass re-derives every shingle a third time."""
    buckets = signatures.select(
        "id",
        *carry_cols,
        F.explode(band_structs("sig", bands, rows_per_band)).alias("bb"),
    ).select("id", *carry_cols, "bb.band", "bb.bucket")
    if max_bucket_size is not None:
        # bucket sizes via a window COUNT over the (band, bucket)
        # partition instead of a groupBy + semi-join: the semi-join form
        # re-derived the whole signature subtree a second time (scan →
        # shingle explode → hash → aggregate, all duplicated per side —
        # the round-6 plan audit measured 4 full signature derivations in
        # this operator), while the window rides the SAME exchange the
        # pair self-join needs anyway. Identical cap semantics: a
        # partition count equals the groupBy count. The window sort
        # spills like any sort; a degenerate bucket concentrates in one
        # task either way (the join shuffle already had that property).
        w = Window.partitionBy("band", "bucket")
        buckets = (
            buckets.withColumn("_bc", F.count(F.lit(1)).over(w))
            .filter(F.col("_bc") <= max_bucket_size)
            .drop("_bc")
        )
    a = buckets.alias("a")
    b2 = buckets.alias("b")
    return (
        a.join(
            b2,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry_cols],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry_cols],
        )
        .distinct()
    )


def verify_pairs_exact(
    cand: DataFrame, sh: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard computed ONLY for the given candidate pairs: fan each
    pair out by id_a's shingles, equi-join against (id_b, shingle) to count
    the intersection, then divide by |A|+|B|-shared. Work is linear in
    sum over pairs of |shingles(id_a)| — never the all-shared-shingle-pairs
    blowup of the brute-force path.

    If ``cand`` already carries ``na``/``nb`` (each doc's shingle count,
    e.g. threaded through ``lsh_candidate_pairs(carry_cols=...)`` or the
    prefix path's length columns), the size aggregation over ``sh`` and
    its two joins are skipped — one fewer full derivation of the shingle
    table."""
    if {"na", "nb"} <= set(cand.columns):
        sized = cand
    else:
        sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
        sized = cand.join(
            sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na")),
            "id_a",
        ).join(
            sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb")),
            "id_b",
        )
    fan = sized.join(sh.select(F.col("id").alias("id_a"), "shingle"), "id_a")
    return (
        fan.join(
            sh.select(F.col("id").alias("id_b"), "shingle"),
            ["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("shared"))
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket_size: int | None = 10_000,
    max_shingle_freq: int | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """LSH-candidate generation + exact-Jaccard verification on candidate
    pairs only. Columns: id_a, id_b, jaccard (>= threshold).

    ``max_shingle_freq`` (applied to BOTH signature and verification
    shingles, so the jaccard definition stays consistent) drops shingles
    shared by more than that many docs — the standard frequency cap that
    bounds fan-out on stopword runs at corpus scale.

    ``hash_fn="md5"`` switches to the engine-portable shingle hash (see
    :func:`shingle_hash`) so the exact pipeline — signatures, banding,
    bucket cap, verification — can be recomputed by DuckDB as an oracle."""
    rows_per_band = num_hashes // bands
    sh = shingles(df, text_col, id_col, n)
    if max_shingle_freq is not None:
        freq = (
            sh.groupBy("shingle")
            .count()
            .filter(F.col("count") <= max_shingle_freq)
        )
        sh = sh.join(freq.select("shingle"), "shingle", "left_semi")
    hashed = add_portable_hash(sh) if hash_fn == "md5" else sh
    # n_sh rides the signature shuffle (sh is distinct per (id, shingle),
    # so count == the verify stage's size definition): the verify stage
    # then skips its own full-shingle size aggregation + two joins.
    mins = [
        F.min(shingle_hash(i, hash_fn)).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = hashed.groupBy("id").agg(
        *mins, F.count(F.lit(1)).alias("n_sh")
    ).select(
        "id",
        F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"),
        "n_sh",
    )
    cand = lsh_candidate_pairs(
        sig, bands, rows_per_band, max_bucket_size, carry_cols=("n_sh",)
    ).select(
        "id_a", "id_b",
        F.col("n_sh_a").alias("na"), F.col("n_sh_b").alias("nb"),
    )
    return verify_pairs_exact(cand, sh, threshold)
