"""Output partitioning operators: size-based bin packing, key-based
partitioned sinks, consolidation.

Reference: greedy ≤4 GB bin packing (/root/reference/tacotoolbox/
create.py:454-478), one-container-per-group-value (create.py:298-357),
multi-partition consolidation with schema checks (tacocat.py:49-111).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import align_union, compare_schema

_NUMERIC_KINDS = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
    T.DateType,
    T.TimestampType,
)


def _hashable_type(dt: T.DataType) -> bool:
    """True when xxhash64/hash accepts the type: Spark disallows MapType
    (SPARK-27619), at any nesting depth."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _hashable_type(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_hashable_type(f.dataType) for f in dt.fields)
    return True


def _monotone_bucket(
    df: DataFrame, first_order_col: str, n_buckets: int
) -> Column:
    """A deterministic, order-monotone coarse bucket over the first order
    column: every row in bucket b sorts before every row in bucket b+1 (rows
    with equal key values always share a bucket). Numeric/temporal columns
    get approx-quantile boundaries (one cheap aggregate pass, deterministic
    for a given input); strings get a fixed-length prefix. Used to turn a
    global ordered prefix sum into per-bucket windows + a tiny offset table,
    so no stage ever funnels the whole table through one task."""
    dtype = df.schema[first_order_col].dataType
    c = F.col(first_order_col)
    if isinstance(dtype, _NUMERIC_KINDS):
        probs = [i / n_buckets for i in range(1, n_buckets)]
        num = c.cast("double")
        qdf = df.select(
            F.percentile_approx(num, probs, 10_000).alias("q")
        ).first()
        bounds = sorted(set(qdf["q"] or []))
        if not bounds:
            return F.lit(0)
        arr = F.array(*[F.lit(float(b)) for b in bounds])
        # bucket = number of boundaries strictly below this value; NULL keys
        # (sorted first by Spark) fall into bucket 0
        return F.size(F.filter(arr, lambda b: num > b))
    # strings: a prefix is order-monotone (s1 < s2 => prefix(s1) <= prefix(s2)).
    # NULL keys coalesce to "" (sorts before every non-empty prefix, same
    # bucket-0 semantics as the numeric path) — substring(NULL) would return
    # NULL and the consumers' inner equi-join on the bucket would silently
    # drop those rows.
    return F.coalesce(F.substring(c.cast("string"), 1, 8), F.lit(""))


def _ordered_prefix_sum(
    df: DataFrame,
    size_expr: Column,
    order_cols: list[str],
    cum_col: str,
    n_buckets: int,
    group_cols: list[str] | None = None,
    include_current: bool = True,
) -> DataFrame:
    """Shared distributed ordered-prefix-sum scaffolding (assign_size_bins /
    select_to_budget): order-monotone coarse buckets over the first order
    column, per-(group, bucket) window cumsums, and a broadcast offset
    table (one row per occupied (group, bucket); the offset join is
    null-safe on group keys so a NULL group value is a real group). The
    result appends ``cum_col`` — the running total of ``size_expr`` in the
    (group-scoped) ``order_cols`` order, INCLUDING the current row when
    ``include_current`` (else the reference's cum-before semantics). No
    single-partition window over data anywhere; internal columns
    (_sb_bucket/_sb_off/_sb_tot/_sb_g_*) are dropped before returning."""
    g = [*(group_cols or [])]
    b = df.withColumn(
        "_sb_bucket", _monotone_bucket(df, order_cols[0], n_buckets)
    )
    totals = b.groupBy(*g, "_sb_bucket").agg(F.sum(size_expr).alias("_sb_tot"))
    w_off = (
        Window.partitionBy(*g).orderBy("_sb_bucket")
        if g
        else Window.orderBy("_sb_bucket")
    ).rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        *[F.col(c).alias(f"_sb_g_{c}") for c in g],
        "_sb_bucket",
        F.coalesce(F.sum("_sb_tot").over(w_off), F.lit(0)).alias("_sb_off"),
    )
    cond = b["_sb_bucket"] == offsets["_sb_bucket"]
    for c in g:
        cond = cond & b[c].eqNullSafe(offsets[f"_sb_g_{c}"])
    w_local = (
        Window.partitionBy(*g, "_sb_bucket")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(
            Window.unboundedPreceding, 0 if include_current else -1
        )
    )
    local = F.sum(size_expr).over(w_local)
    if not include_current:
        local = F.coalesce(local, F.lit(0))
    return (
        b.join(F.broadcast(offsets), cond)
        .drop(offsets["_sb_bucket"])
        .drop(*[f"_sb_g_{c}" for c in g])
        .withColumn(cum_col, F.col("_sb_off") + local)
        .drop("_sb_bucket", "_sb_off")
    )


def assign_size_bins(
    df: DataFrame,
    size_col: str,
    max_bin_size: int,
    order_cols: list[str],
    bin_col: str = "bin_id",
    n_buckets: int = 64,
) -> DataFrame:
    """S8: running-total bin assignment — exact global cumulative sum of
    sizes in the given deterministic order, bin = floor(cum_before / max).

    Semantics note (vs the reference's greedy packer,
    tacotoolbox/create.py:454-478 `_group_samples_by_size`): floor-of-cumsum
    lets a bin straddle the boundary, so a bin may exceed ``max_bin_size``
    by up to one item. For the never-overflow greedy semantics use
    :func:`greedy_pack_bins`. The upside is that this version is an exact
    distributed prefix sum: per-bucket window cumsums (parallel across
    ``n_buckets`` order-monotone buckets) plus a broadcast-joined offset
    table built from a tiny per-bucket aggregate — no single-partition
    window anywhere, so it survives a 100x scale-up. The offset table is a
    pure aggregate of the input (no partition-id dependence), so no persist
    or double-computation hazard exists.
    """
    out = _ordered_prefix_sum(
        df,
        F.col(size_col),
        order_cols,
        "_sb_cum_before",
        n_buckets,
        include_current=False,
    )
    return out.withColumn(
        bin_col, F.floor(F.col("_sb_cum_before") / F.lit(max_bin_size))
    ).drop("_sb_cum_before")


def select_to_budget(
    df: DataFrame,
    size_col: str,
    budget: int,
    order_cols: list[str],
    keep_col: str = "selected",
    cum_col: str = "cum_size",
    n_buckets: int = 64,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Budget-capped prefix selection: walk rows in the deterministic
    ``order_cols`` order and keep the maximal prefix whose cumulative
    ``size_col`` stays within ``budget`` — the data-selection primitive
    ("best documents until N tokens") behind quality-thresholded corpus
    curation. Appends ``cum_col`` (cumulative size INCLUDING the row) and
    ``keep_col`` (cum <= budget). With ``group_cols`` the walk and the
    budget apply PER GROUP ("N tokens per domain/language" — the
    data-mixing form); a hot group never serializes one task because the
    windows stay keyed by (group, bucket), not by the group alone.

    Sizes are clamped to >= 0 inside the cumulative sums (NULL, negative
    AND NaN sizes contribute 0 — Spark's ``greatest`` would keep NaN, so
    the clamp tests it explicitly), so the running total is monotone
    along the order and the kept set is EXACTLY an order-prefix — no
    skip-and-continue ambiguity, and an independent engine reproduces it
    with one window cumsum. A NULL/NaN/negative-size row itself is never
    selected (its size is not a meaningful budget contribution; NaN >= 0
    is TRUE under Spark's NaN ordering, so the keep predicate excludes
    NaN explicitly) but does not poison the rows after it.

    Same distributed shape as :func:`assign_size_bins` — this is an
    ordered prefix sum with a threshold predicate instead of a floor
    division: per-(group, bucket) window cumsums over order-monotone
    buckets plus a broadcast offset table (one row per occupied
    (group, bucket) — tiny for any realistic domain count), no
    single-partition window over data anywhere."""
    if budget <= 0:
        raise ValueError(f"budget must be > 0, got {budget}")
    g = [*(group_cols or [])]
    reserved = (
        {keep_col, cum_col, "_sb_bucket", "_sb_off", "_sb_tot"}
        | {f"_sb_g_{c}" for c in g}
    ) & set(df.columns)
    if reserved:
        raise ValueError(
            f"columns {sorted(reserved)} collide with select_to_budget's "
            "output/internal names; rename them first"
        )
    size_d = F.col(size_col).cast("double")
    size_ok = (
        F.col(size_col).isNotNull() & ~F.isnan(size_d) & (size_d >= 0)
    )
    clamped = F.when(size_ok, F.col(size_col)).otherwise(F.lit(0))
    out = _ordered_prefix_sum(
        df, clamped, order_cols, cum_col, n_buckets, group_cols=g
    )
    return out.withColumn(
        keep_col,
        F.coalesce(
            size_ok & (F.col(cum_col) <= F.lit(budget)), F.lit(False)
        ),
    )


def select_top_quality_to_budget(
    df: DataFrame,
    score_col: str,
    size_col: str,
    budget: int,
    id_col: str,
    keep_col: str = "selected",
    cum_col: str = "cum_size",
    n_buckets: int = 64,
) -> DataFrame:
    """Curation wrapper over :func:`select_to_budget`: keep the
    highest-``score_col`` documents until ``budget`` total ``size_col``
    (e.g. "best docs until 10B tokens"). Order is (score desc, id asc) —
    a total order, so reruns and other engines agree; NULL scores sort
    LAST (an unscored doc is never preferred over any scored one)."""
    if "_nscore" in df.columns:
        raise ValueError("column '_nscore' collides; rename it first")
    nscore = F.when(
        F.col(score_col).isNull(), F.lit(float("inf"))
    ).otherwise(-F.col(score_col).cast("double"))
    out = select_to_budget(
        df.withColumn("_nscore", nscore),
        size_col,
        budget,
        ["_nscore", id_col],
        keep_col,
        cum_col,
        n_buckets,
    )
    return out.drop("_nscore")


def group_percentile(
    df: DataFrame,
    value_col: str,
    id_col: str,
    group_cols: list[str] | None = None,
    out_col: str = "pct_rank",
    n_buckets: int = 64,
) -> DataFrame:
    """Within-group percentile rank under the TOTAL order
    (value, id): ``out_col`` = (rank − 1) / (n − 1) in [0, 1], NULL for
    singleton groups (no second member to rank against). The score-
    calibration primitive for data mixing: raw quality scores are not
    comparable across domains (a 0.7 in code ≠ a 0.7 in web text), but
    within-domain percentiles are — filter at ``pct_rank >= q`` uniformly
    across groups and every domain keeps its own top (1−q).

    Ties break by ``id_col`` (documented: this is the row_number
    percentile, not SQL ``percent_rank``'s shared-rank-on-ties — the
    total order makes the output reproducible bit-for-bit on any engine
    via (row_number−1)/(n−1) in exact integer arithmetic with one final
    division). NULL values sort FIRST (Spark's ascending default) and so
    take the lowest percentiles — an unscored row never outranks a scored
    one; an independent engine must order NULLS FIRST to reproduce this
    (DuckDB defaults to NULLS LAST). A hot group never serializes one
    task: the rank is
    :func:`_ordered_prefix_sum` with size 1 — per-(group, bucket) window
    row counts plus the broadcast offset table — and the group sizes come
    from one map-side-combinable aggregation joined back (AQE broadcasts
    it for any realistic group count)."""
    g = [*(group_cols or [])]
    reserved = {out_col, "_gp_rank", "_gp_n"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"columns {sorted(reserved)} collide with group_percentile's "
            "output/internal names; rename them first"
        )
    ranked = _ordered_prefix_sum(
        df,
        F.lit(1),
        [value_col, id_col],
        "_gp_rank",
        n_buckets,
        group_cols=g,
    )
    sizes = df.groupBy(*g).agg(F.count(F.lit(1)).alias("_gp_n"))
    if g:
        # null-safe: a NULL group value is a real group and must find its n
        szs = sizes.select(
            *[F.col(c).alias(f"_gp_g_{c}") for c in g], "_gp_n"
        )
        cond = F.lit(True)
        for c in g:
            cond = cond & ranked[c].eqNullSafe(szs[f"_gp_g_{c}"])
        joined = ranked.join(F.broadcast(szs), cond).drop(
            *[f"_gp_g_{c}" for c in g]
        )
    else:
        joined = ranked.crossJoin(F.broadcast(sizes))
    return joined.withColumn(
        out_col,
        F.when(
            F.col("_gp_n") > 1,
            (F.col("_gp_rank") - 1).cast("double")
            / (F.col("_gp_n") - 1).cast("double"),
        ),
    ).drop("_gp_rank", "_gp_n")


def greedy_pack_bins(
    df: DataFrame,
    size_col: str,
    order_cols: list[str],
    max_bin_size: int | None = None,
    max_bin_count: int | None = None,
    group_cols: list[str] | None = None,
    bin_col: str = "bin_id",
    n_buckets: int = 64,
) -> DataFrame:
    """S8/W3 greedy packing with the reference's exact semantics: walk rows
    in order, open a new bin when adding the next item would exceed
    ``max_bin_size`` OR the bin already holds ``max_bin_count`` items
    (tacotoolbox/create.py:454-478; tortilla/extensions/
    spatial_grouping.py:211-241). Bins never exceed the caps except a
    single oversized item, which gets a bin of its own.

    Greedy packing is sequential by nature (each cut depends on all prior
    cuts), so it is distributed per group: with ``group_cols`` the walk is
    exact within each group (the reference packs within one dataset's sample
    list, so groups are the natural unit); without, rows are split into
    ``n_buckets`` order-monotone buckets, packed exactly within each, and
    bin ids are made global via a tiny per-bucket offset join. The only
    deviation from a single sequential walk is that a bin never spans a
    bucket boundary (<= n_buckets under-filled bins across the whole table
    — at 100 TB, noise); caps are still never exceeded.
    """
    if max_bin_size is None and max_bin_count is None:
        raise ValueError("need max_bin_size and/or max_bin_count")
    import pandas as pd

    implicit = group_cols is None
    if implicit:
        df = df.withColumn(
            "_gp_bucket", _monotone_bucket(df, order_cols[0], n_buckets)
        )
        group_cols = ["_gp_bucket"]

    # Deterministic final tie-breaker: when order_cols do not uniquely order
    # rows, mergesort ties resolve by shuffle arrival order — and the
    # implicit path below evaluates the applyInPandas result TWICE (offset
    # derivation + main branch), so nondeterministic ties could pack
    # differently per evaluation. A content hash makes the sort total up to
    # rows identical on every hashable column; such rows are interchangeable
    # in any packing (and the per-bucket bin COUNTS the offset join consumes
    # depend only on the (order, size) sequence, which the hash covers).
    # xxhash64 rejects MapType (SPARK-27619), so map-bearing columns are
    # excluded rather than failing the whole operator on generic schemas.
    tie_col = "_gp_tie"
    sort_cols = [c for c in order_cols] + [tie_col]
    hashable = [f.name for f in df.schema.fields if _hashable_type(f.dataType)]
    df = df.withColumn(tie_col, F.xxhash64(*[F.col(c) for c in hashable]))

    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(bin_col, T.LongType())]
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="mergesort").reset_index(
            drop=True
        )
        sizes = pdf[size_col].to_numpy()
        bins = []
        cur, cur_size, cur_count = 0, 0, 0
        for s in sizes:
            if cur_count > 0 and (
                (max_bin_count is not None and cur_count >= max_bin_count)
                or (max_bin_size is not None and cur_size + s > max_bin_size)
            ):
                cur += 1
                cur_size, cur_count = 0, 0
            bins.append(cur)
            cur_size += s
            cur_count += 1
        pdf[bin_col] = pd.Series(bins, dtype="int64")
        return pdf

    packed = df.groupBy(*group_cols).applyInPandas(pack, schema=out_schema)
    if not implicit:
        return packed.drop(tie_col)

    # make per-bucket local bin ids global: offset by the cumulative number
    # of bins in all earlier buckets (tiny table; the content-hash
    # tie-breaker makes bucket packing a pure deterministic function of the
    # input, so recomputing the map stage for this aggregate cannot diverge
    # from the main branch)
    counts = packed.groupBy("_gp_bucket").agg(
        (F.max(bin_col) + 1).alias("_gp_nbins")
    )
    w_off = Window.orderBy("_gp_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "_gp_bucket",
        F.coalesce(F.sum("_gp_nbins").over(w_off), F.lit(0)).alias("_gp_off"),
    )
    return (
        packed.join(F.broadcast(offsets), "_gp_bucket")
        .withColumn(bin_col, F.col(bin_col) + F.col("_gp_off"))
        .drop("_gp_bucket", "_gp_off", tie_col)
    )


def partition_summaries(
    df: DataFrame, keys: list[str], summary_cols: list[str] | None = None
) -> DataFrame:
    """S11: per-partition metadata table — row count plus min/max extents of
    the summary columns, one row per key tuple. The Spark analog of the
    reference FolderWriter's per-directory metadata
    (_writers/folder_writer.py:52-108: local METADATA tables next to each
    DATA folder): a reader navigates partition extents without scanning
    data files. One map-side-combined aggregation; output is one row per
    partition, so it stays tiny at any corpus size."""
    if summary_cols is None:
        summary_cols = [
            f.name for f in df.schema.fields if f.name not in keys
        ]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in summary_cols:
        aggs += [
            F.min(c).cast("string").alias(f"{c}_min"),
            F.max(c).cast("string").alias(f"{c}_max"),
        ]
    return df.groupBy(*keys).agg(*aggs)


def write_partitioned_by_key(
    df: DataFrame,
    out_dir: str,
    keys: list[str],
    max_records_per_file: int = 0,
    with_summary: bool = False,
    summary_cols: list[str] | None = None,
) -> None:
    """S9: one directory per distinct key value. With ``with_summary``, a
    sibling ``_summary`` dataset partitioned by the same keys carries each
    partition's row count and column extents (S11) — written AFTER the data
    so a summary's existence implies its partition's data landed."""
    w = df.write.mode("overwrite").partitionBy(*keys)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(out_dir)
    if with_summary:
        partition_summaries(df, keys, summary_cols).repartition(
            *keys
        ).write.mode("overwrite").partitionBy(*keys).parquet(
            f"{out_dir}/_summary"
        )


def consolidate(
    dfs: list[DataFrame],
    source_names: list[str] | None = None,
    strict_schema: bool = True,
) -> DataFrame:
    """S10 consolidation: schema-check each input against the first, tag
    provenance (S7 internal:source_file analog), union. With
    strict_schema=False, schemas are aligned with typed nulls instead
    (reference loose mode)."""
    if strict_schema:
        ref = dfs[0].schema
        for i, d in enumerate(dfs[1:], 1):
            diff = compare_schema(d.schema, ref, allow_extra=False)
            if not diff.ok:
                raise ValueError(f"input {i} schema mismatch: {diff.report()}")
    tagged = []
    for i, d in enumerate(dfs):
        name = source_names[i] if source_names else f"source_{i}"
        tagged.append(d.withColumn("source_file", F.lit(name)))
    return align_union(tagged)

