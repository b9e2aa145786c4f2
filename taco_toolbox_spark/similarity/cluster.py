"""Seeded k-means over embedding columns + SemDeDup-style semantic dedup.

Corpus-curation use (Abbas et al., SemDeDup): cluster embeddings with
k-means, then search for near-duplicate pairs ONLY within a cluster —
turning the quadratic all-pairs cosine search into k independent
within-cluster searches. At 100 TB, k is chosen so clusters are small
(n/k rows each) and the pairwise stage is bounded per cluster; the
assignment pass is a pure scan (k×dim JVM-side FLOPs per row, no Python).

Determinism contract (what makes this oracle-able across engines):

- **Init**: the k vectors with the smallest ids — no RNG.
- **Assignment**: argmin of the squared euclidean distance computed as a
  sequential left-to-right fold in float64 (``F.aggregate`` with 0.0
  init ≡ DuckDB ``list_sum``), ties broken by the smaller cluster index.
  IEEE arithmetic over identical inputs → bit-identical everywhere.
- **Update**: centroid means are computed in FIXED POINT — per-dimension
  values are scaled by 1e9 and floored to BIGINT, summed exactly
  (integer addition is order-independent, unlike float sums, so the mean
  does not depend on partition count or merge order), then divided back
  in float64. Resolution loss below 1e-9 is the documented price for a
  bit-reproducible, cluster-size-independent algorithm. (A float-sum
  mean would differ between runs of the SAME job when partial
  aggregates merge in a different order.)

The reference has no clustering operator; this is part of the
beyond-reference LLM-pipeline surface (SURVEY.md §6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Fixed-point scale for centroid-mean accumulation (see module doc).
CENTROID_SCALE = 1_000_000_000.0


def kmeans_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    dist_col: str = "sq_dist",
) -> DataFrame:
    """Assign each row to its nearest centroid (squared euclidean, ties →
    smaller cluster index). Pure JVM expression over broadcast literal
    centroids: no shuffle, no UDF — a scan-shaped pass at any data size."""
    if not centroids:
        raise ValueError("centroids must be non-empty")
    # The argmin expression is built as ONE SQL string parsed JVM-side:
    # constructing it Column-by-Column costs k x dim py4j round trips
    # (~1.2s per build at k=8, dim=64 — paid once per Lloyd round plus
    # the final assignment). The parse resolves to the IDENTICAL
    # expression tree (same zip_with/aggregate fold, same double casts,
    # same named-struct array_sort argmin with the smaller-index tie
    # rule), so every value is bit-identical; repr() of a Python float is
    # the shortest round-tripping literal, which the SQL parser reads
    # back to the same double.
    vq = f"`{vec_col}`"
    entries = []
    for j, c in enumerate(centroids):
        arr = "array(" + ",".join(repr(float(x)) + "D" for x in c) + ")"
        sq = (
            f"aggregate(zip_with({vq}, {arr}, (x, y) -> "
            "(CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        entries.append(f"named_struct('d', {sq}, 'cl', {j})")
    best = F.expr("array_sort(array(" + ",".join(entries) + "))[0]")
    return df.withColumn(cluster_col, best["cl"]).withColumn(dist_col, best["d"])


def kmeans_fit(
    df: DataFrame,
    k: int,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Lloyd's algorithm with the determinism contract above. Returns the
    centroids after ``n_iter`` update rounds (list of k float lists).

    Per iteration: one assignment scan + one (cluster, dim) aggregation
    whose map-side partial sums are exact BIGINTs; the driver collects
    k×dim tiny rows to build the next round's literal centroids (the same
    sketch-sized collect the stats/profile operators use). Empty clusters
    keep their previous centroid."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    init_rows = df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    if len(init_rows) < k:
        raise ValueError(f"need at least k={k} rows, got {len(init_rows)}")
    centroids = [[float(x) for x in r[vec_col]] for r in init_rows]
    for _ in range(n_iter):
        assigned = kmeans_assign(df, centroids, vec_col, "_cl", "_d")
        sums = (
            assigned.select(
                "_cl", F.posexplode(F.col(vec_col)).alias("_pos", "_val")
            )
            .groupBy("_cl", "_pos")
            .agg(
                F.sum(
                    F.floor(F.col("_val").cast("double") * F.lit(CENTROID_SCALE))
                ).alias("_s"),
                F.count(F.lit(1)).alias("_n"),
            )
            .collect()
        )
        new_c = [list(c) for c in centroids]  # empty cluster: keep previous
        for r in sums:
            new_c[r["_cl"]][r["_pos"]] = (float(r["_s"]) / CENTROID_SCALE) / float(
                r["_n"]
            )
        centroids = new_c
    return centroids


def _dot(x: Column, y: Column) -> Column:
    """Sequential float64 dot-product fold (same idiom as
    similarity/ann.py:_dot — deterministic element order)."""
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_pair(a: Column, b: Column) -> Column:
    """Cosine similarity between two vector columns, all three folds
    sequential float64 (same idiom as similarity/ann.py:_dot/_norm)."""
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def semantic_dedup_pairs(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_blocks: int = 1,
) -> DataFrame:
    """SemDeDup candidate pairs: rows assigned to the SAME k-means cluster
    whose cosine ≥ threshold. Columns: (id_a, id_b, cluster, cos) with
    id_a < id_b and cos rounded to 4 decimals (hash-stable output).

    The self-join is keyed on the cluster id, so the pairwise cosine work
    is bounded per cluster (~(n/k)² rows each) instead of n² global — the
    whole point of clustering first. Scale k with the corpus to keep
    cluster sizes bounded.

    Two scale levers beyond the basic cluster join:

    * **Per-row norms.** ``sqrt(dot(v, v))`` is computed once per ROW
      before the join and reused across all of that row's pairs, so each
      pair costs one dot-product fold instead of three. Bit-identical to
      the naive form — the same float64 subexpression, evaluated once.
    * **Triangular blocking** (``n_blocks`` > 1). With k join keys, at
      most k tasks carry ALL pairwise work — a parallelism ceiling when k
      is small or a cluster is hot. Each row also gets a hash block
      g ∈ [0, B); the left side is replicated to every target block
      j ∈ [g, B) (``explode(sequence(g, B-1))``, avg (B+1)/2 copies) and
      the join keys on (cluster, block), giving k·B keys. Same-block
      matches keep ``id_a < id_b``; cross-block pairs match exactly once
      in whichever orientation the blocks dictate and are re-normalized
      with least/greatest (cosine is exactly symmetric — commutative
      multiply inside an identical fold — so orientation can't change the
      value). The output pair SET is identical for every B ≥ 1."""
    if n_blocks < 1:
        raise ValueError(f"n_blocks must be >= 1, got {n_blocks}")
    from ..scale import spread_for_compute

    # the within-cluster pairwise stage multiplies each row's dim-length
    # fold by its cluster's size: spread an under-partitioned input to
    # the session parallelism so the assignment+pair map stages use every
    # core (plan no-op at warehouse scale; per-row values and the pair
    # set are partitioning-independent — measured 7.9s -> 1.2s first
    # execution at sf0.1/local[32])
    df = spread_for_compute(df)
    assigned = kmeans_assign(df, centroids, vec_col, "cluster", "_d").select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        "cluster",
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("_g"),
    ).withColumn("_n", F.sqrt(_dot(F.col("_v"), F.col("_v"))))
    a = assigned.select(
        F.col("_id").alias("id_a"),
        F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
        F.col("cluster").alias("_ca"),
        F.col("_g").alias("_ga"),
        F.explode(F.sequence(F.col("_g"), F.lit(n_blocks - 1))).alias("_bj"),
    )
    b = assigned.select(
        F.col("_id").alias("id_b"),
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
        F.col("cluster").alias("_cb"),
        F.col("_g").alias("_gb"),
    )
    return (
        a.join(b, (F.col("_ca") == F.col("_cb")) & (F.col("_bj") == F.col("_gb")))
        .filter(
            (F.col("_ga") < F.col("_gb"))
            | ((F.col("_ga") == F.col("_gb")) & (F.col("id_a") < F.col("id_b")))
        )
        .withColumn(
            "cos",
            F.round(
                _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 4
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            F.col("_ca").alias("cluster"),
            "cos",
        )
    )
