"""Per-turn text equality against a clean reference copy.

BASELINE input_hint: "per-row invariant vs the reference: per-turn text
equality under stable (conv_id, turn_idx) ordering". Reference analog: the
extension row-count/consistency contract (tortilla/datamodel.py:342-374).

Plan shape: equi-join on the key (Catalyst picks sort-merge or broadcast;
AQE splits skewed keys), then one JVM filter on Spark's null-safe ``<=>``
(NULL equals NULL, NULL differs from any value). The join is the only
shuffle; the judgment is a codegen'd predicate, so the pass starts no
Python workers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .base import violation_rows


def text_equality_violations(
    df: DataFrame,
    reference: DataFrame,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    text_col: str = "text",
    partition_col: str = "part",
    check_id: str = "text_equality",
    colocated: bool = False,
) -> DataFrame:
    """Violation rows for turns whose text differs from the reference copy
    (or that have no reference row at all).

    ``colocated=True`` selects the direct-join plan for inputs that share a
    storage layout (both bucketed+sorted by the key, or co-partitioned): the
    key join is exchange-free there, so carrying the text payload through it
    is FREE and the whole fingerprint dance (hash both sides, join slivers,
    re-scan both tables to fetch texts) collapses to ONE scan of each table
    judged by one inline JVM filter. Default False = the
    fingerprint plan below, which stays right when the join must shuffle
    (shuffling full text ~6x the bytes of a 9-byte fingerprint).

    The equality join shuffles 9-byte (is-null, xxhash64) text fingerprints
    plus keys — never the text payload. On a shared-disk deployment the
    full-text join's shuffle (~8 GB at 16M turns) is the suite's largest
    IO and stops scaling exactly when parallelism rises (the disk is one);
    fingerprints cut it ~6x. Texts are then fetched ONLY for the mismatch
    sliver through EXPLICIT broadcast joins (sliver keys are small by the
    0.1%-violation contract; an explicit hint because AQE's runtime
    conversion was not reliable for the semi-join shape), deduplicated on
    (keys, fingerprint) so duplicate-key rows keep the exact pair
    multiplicity of a direct text join. The null-safe ``<=>`` filter then
    judges only the sliver. Equal hashes with unequal texts (2^-64/pair)
    are the standard content-fingerprint trade.
    """
    keys = list(key_cols)
    c = F.col(text_col)

    def judge(joined: DataFrame) -> DataFrame:
        # the whole judgment: no reference row, or text unequal under <=>
        bad = joined.filter(
            F.col("_ref_present").isNull() | ~c.eqNullSafe(F.col("_ref_text"))
        )
        return violation_rows(
            bad,
            check_id,
            F.when(F.col("_ref_present").isNull(), F.lit("no reference row"))
            .otherwise(
                F.format_string(
                    "text mismatch: got=%s want=%s",
                    F.substring(F.coalesce(c, F.lit("<null>")), 1, 60),
                    F.substring(
                        F.coalesce(F.col("_ref_text"), F.lit("<null>")), 1, 60
                    ),
                )
            ),
            part=partition_col,
            conv=F.col(keys[0]),
            turn=F.col(keys[1]),
        )

    if colocated:
        return judge(
            df.select(partition_col, *keys, text_col).join(
                reference.select(
                    *keys,
                    c.alias("_ref_text"),
                    F.lit(True).alias("_ref_present"),
                ),
                keys,
                "left",
            )
        )
    fp = F.xxhash64(F.coalesce(c, F.lit("")))
    left = df.select(
        partition_col, *keys, c.isNull().alias("_n"), fp.alias("_h")
    )
    right = reference.select(
        *keys,
        c.isNull().alias("_rn"),
        fp.alias("_rh"),
        F.lit(True).alias("_ref_present"),
    )
    sliver = left.join(right, keys, "left").filter(
        F.col("_ref_present").isNull()
        | (F.col("_n") != F.col("_rn"))
        | (F.col("_h") != F.col("_rh"))
    )

    # fetch texts for the sliver only: broadcast the tiny key set against
    # the big tables (scan + probe, no text ever enters a shuffle); dedupe
    # on (keys, fingerprint) keeps multiplicity exactly 1:1 per sliver row
    # even when duplicate keys exist on either side
    skeys = sliver.select(*keys).distinct()
    got = (
        df.select(*keys, text_col)
        .join(F.broadcast(skeys), keys, "left_semi")
        .withColumn("_h", fp)
        .dropDuplicates(keys + ["_h"])
    )
    want = (
        reference.select(*keys, c.alias("_ref_text"))
        .join(F.broadcast(skeys), keys, "left_semi")
        .withColumn(
            "_rh", F.xxhash64(F.coalesce(F.col("_ref_text"), F.lit("")))
        )
        .dropDuplicates(keys + ["_rh"])
    )
    return judge(
        sliver.join(F.broadcast(got), keys + ["_h"], "left").join(
            F.broadcast(want), keys + ["_rh"], "left"
        )
    )
