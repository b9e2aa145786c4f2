"""Checkpoint-resumable validation runs.

north_star: "runs are resumable from a checkpoint manifest recording
per-Iceberg-partition lineage (snapshot id, file list, sketch state) and
metrics, so a killed run re-validates only unfinished partitions."

Reference analog: the two-phase write (plan offsets → write → patch header,
/root/reference/tacotoolbox/_writers/zip_writer.py:292-311) and the
per-partition `taco:sources` records kept for query routing
(_tacollection.py:469-512).

The manifest is a JSON document per run:
  { run_id, input_path, snapshot_id, created_at,
    partitions: { part: { status, files, n_rows, n_violations,
                          verdicts: {check_id: n_violations},
                          metrics: {...}, sketch: {...} } } }

Granularity is the engine's partition column (= Iceberg partition in
production; `part=` directories for parquet here). On resume, finished
partitions are skipped by *partition-pruned* filtering — Catalyst turns the
anti-filter into partition pruning at the scan, so finished data is never
read.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class CheckpointManifest:
    path: str
    doc: dict

    @classmethod
    def load_or_create(
        cls, path: str, run_id: str, input_path: str, snapshot_id: str | None = None
    ) -> "CheckpointManifest":
        if os.path.exists(path):
            with open(path) as f:
                doc = json.load(f)
            if doc.get("input_path") != input_path:
                raise ValueError(
                    f"manifest {path} was created for input "
                    f"{doc.get('input_path')}, not {input_path}"
                )
        else:
            doc = {
                "run_id": run_id,
                "input_path": input_path,
                "snapshot_id": snapshot_id,
                "created_at": time.time(),
                "partitions": {},
            }
        return cls(path=path, doc=doc)

    @classmethod
    def load(cls, path: str) -> "CheckpointManifest":
        """Read-only load of an EXISTING manifest, no input-path identity
        check — for consumers certifying/reporting against recorded state
        (jobs/certify.py --before-manifest) rather than resuming the run
        that wrote it."""
        with open(path) as f:
            return cls(path=path, doc=json.load(f))

    # -- queries ----------------------------------------------------------
    def finished_partitions(self) -> list[str]:
        return [
            p
            for p, rec in self.doc["partitions"].items()
            if rec.get("status") == "done"
        ]

    def pending_filter(self, df: DataFrame, partition_col: str = "part") -> DataFrame:
        """Prune finished partitions from the scan. A NOT IN over partition
        values becomes partition pruning (no data files of finished
        partitions are read)."""
        done = self.finished_partitions()
        if not done:
            return df
        return df.filter(~F.col(partition_col).isin(done))

    # -- updates ----------------------------------------------------------
    def record_partition(
        self,
        part: str,
        verdicts: dict[str, int],
        n_rows: int | None = None,
        metrics: dict | None = None,
        files: list[str] | None = None,
        sketch: dict | None = None,
    ) -> None:
        self.doc["partitions"][part] = {
            "status": "done",
            "finished_at": time.time(),
            "n_rows": n_rows,
            "n_violations": int(sum(verdicts.values())),
            "verdicts": verdicts,
            "metrics": metrics or {},
            "files": files or [],
            "sketch": sketch or {},
        }

    def save(self) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.doc, f, indent=1, default=str)
        os.replace(tmp, self.path)  # atomic commit, like the header patch



def write_text_hadoop(spark, path: str, text: str) -> None:
    """Write a small text file through the JVM Hadoop FileSystem, so it
    lands wherever the job's data sinks land (local, hdfs://, s3a://) —
    the one shared writer behind every CLI's sidecar manifest (curate's
    funnel manifest, stream_validate's stream manifest)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()

def record_sketch_state(
    manifest: CheckpointManifest,
    df: DataFrame,
    value_expr: str,
    partition_col: str = "part",
) -> None:
    """Persist per-partition KLL quantile-sketch state into the manifest
    (north_star: checkpoint records "sketch state"): the bytes of Spark's
    ``kll_sketch_agg_double`` (base64, as :func:`record_distinct_state`
    stores its HLL bytes) plus the exact count, min and max, all from one
    grouped JVM aggregation. KLL sketches are mergeable, so a later run can
    (a) compare new partitions against stored baselines and (b) merge
    stored partials into a global distribution
    (:func:`merged_quantiles_from_manifest`) without rescanning finished
    partitions. NaN values are dropped like nulls."""
    import base64

    v = F.nanvl(F.expr(value_expr).cast("double"), F.lit(None).cast("double"))
    rows = (
        df.select(
            # partition columns read back from partitioned storage may be
            # date/int-typed — the sketch key is always a string
            F.col(partition_col).cast("string").alias("part"),
            v.alias("v"),
        )
        .groupBy("part")
        .agg(
            F.kll_sketch_agg_double("v").alias("kll"),
            F.count("v").alias("n"),
            F.min("v").alias("vmin"),
            F.max("v").alias("vmax"),
        )
        .collect()
    )
    for r in rows:
        rec = manifest.doc["partitions"].setdefault(r["part"], {})
        rec.setdefault("sketch", {})[value_expr] = {
            "kll": base64.b64encode(bytes(r["kll"])).decode(),
            "n": int(r["n"]),
            "vmin": float("nan") if r["vmin"] is None else float(r["vmin"]),
            "vmax": float("nan") if r["vmax"] is None else float(r["vmax"]),
        }


def record_distinct_state(
    manifest: CheckpointManifest,
    df: DataFrame,
    columns: list[str] | None = None,
    partition_col: str = "part",
    lg_k: int = 12,
) -> None:
    """Persist per-partition HLL distinct-sketch BYTES into the manifest
    (base64) — the distinct-count twin of :func:`record_sketch_state`.
    A later run unions stored sketches into global per-column distincts
    without rescanning finished partitions."""
    import base64

    from .stats import distinct_sketches

    for r in distinct_sketches(df, columns, partition_col, lg_k).collect():
        rec = manifest.doc["partitions"].setdefault(r["part"], {})
        rec.setdefault("distinct", {})[r["column"]] = {
            "hll": base64.b64encode(bytes(r["sketch"])).decode(),
            "estimate": int(r["approx_distinct"]),
        }


def record_categorical_state(
    manifest: CheckpointManifest,
    df: DataFrame,
    cat_col: str,
    partition_col: str = "part",
) -> None:
    """Persist per-partition category histograms into the manifest — the
    categorical twin of :func:`record_sketch_state`. Unlike the numeric
    sketches these are EXACT (a histogram over a closed vocabulary is
    already bounded-size), and merging is integer addition, so a later run
    can rebuild the corpus-wide baseline for a CategoricalDriftCheck — or
    drift-judge only its NEW partitions against the stored distribution —
    without rescanning finished partitions."""
    from .checks.drift import as_category

    rows = (
        df.groupBy(
            F.col(partition_col).cast("string").alias("part"),
            as_category(F.col(cat_col)).alias("_c"),
        )
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    for r in rows:
        rec = manifest.doc["partitions"].setdefault(r["part"], {})
        rec.setdefault("categorical", {}).setdefault(cat_col, {})[r["_c"]] = int(
            r["_n"]
        )


def ensure_digest_params(
    manifest: CheckpointManifest,
    content_cols: list[str],
    hash_fn: str = "xxhash64",
    seed: int = 0,
) -> None:
    """Pin (or verify) the manifest's digest parameters — a pure-metadata
    check, callable BEFORE any heavy work: mixing hash families, seeds,
    or column sets across runs would make every stored digest silently
    always-differ, so a mismatch is an error up front, not after a
    validation batch has already burned its writes."""
    params = {
        "content_cols": list(content_cols),
        "hash_fn": hash_fn,
        "seed": seed,
    }
    prev = manifest.doc.get("digest_params")
    if prev and prev != params:
        raise ValueError(
            f"manifest already holds digests under {prev}, refusing to mix "
            f"with {params}"
        )
    manifest.doc["digest_params"] = params


def ensure_kll_sketch_state(
    manifest: CheckpointManifest, value_expr: str | None = None
) -> None:
    """Refuse quantile-sketch state that predates the KLL format — a
    pure-metadata check, callable BEFORE any heavy work, like
    :func:`ensure_digest_params`. Older runs stored t-digest centroid
    lists (``means``/``weights``); they cannot merge with KLL bytes, and
    skipping them would silently drop their partitions from every merged
    quantile. ``value_expr`` limits the check to one expression; None
    checks every stored expression."""
    old = sorted(
        part
        for part, rec in manifest.doc["partitions"].items()
        if any(
            "kll" not in sk
            for expr, sk in rec.get("sketch", {}).items()
            if value_expr in (None, expr)
        )
    )
    if old:
        shown = ", ".join(old[:10]) + (" ..." if len(old) > 10 else "")
        raise ValueError(
            f"manifest holds t-digest centroid sketch state (means/weights) "
            f"in {len(old)} partition(s): {shown}; sketch state is now KLL "
            "and the formats do not merge — re-record those partitions "
            "into a fresh manifest"
        )


def record_digest_state(
    manifest: CheckpointManifest,
    df: DataFrame,
    content_cols: list[str],
    partition_col: str = "part",
    hash_fn: str = "xxhash64",
    seed: int = 0,
) -> None:
    """Persist per-partition content digests into the manifest — the
    content-equality twin of :func:`record_sketch_state`. A digest is
    three integers (n_rows, xor_d, sum_d — operators/digest.py), so the
    manifest gains a certification anchor at negligible size: a later
    run certifies a consolidation/re-shard/migration of FINISHED
    partitions against the stored digests without ever rescanning the
    blessed originals. The hash family/seed/columns are recorded
    alongside so a mismatch of parameters is an error, not a silent
    always-differs."""
    from .operators.digest import content_digest

    ensure_digest_params(manifest, content_cols, hash_fn, seed)
    src = df.select(
        F.col(partition_col).cast("string").alias("_digest_part"),
        *content_cols,
    )
    rows = (
        content_digest(
            src, content_cols, ["_digest_part"], hash_fn=hash_fn, seed=seed
        )
        .withColumnRenamed("_digest_part", "part")
        .collect()
    )
    for r in rows:
        rec = manifest.doc["partitions"].setdefault(r["part"], {})
        rec["digest"] = {
            "n_rows": int(r["n_rows"]),
            "xor_d": int(r["xor_d"]),
            "sum_d": int(r["sum_d"]),
        }


def digest_frame_from_manifest(
    spark, manifest: CheckpointManifest, allow_partial: bool = False
) -> DataFrame:
    """Rebuild the per-partition digest frame from manifest state — the
    'before' side of :func:`operators.digest.digest_mismatches` /
    ``certify_rewrite`` without rescanning the blessed corpus. Pair it
    with a fresh ``content_digest`` of the rewrite (same recorded
    params: ``manifest.doc['digest_params']``).

    A manifest where only SOME partitions carry digests (e.g. an early
    run predating --record-digests) would certify a faithful rewrite as
    full of missing_left mismatches — so an incomplete anchor set is an
    error unless ``allow_partial`` says the caller will reconcile only
    the covered partitions."""
    rows = [
        (part, rec["digest"]["n_rows"], rec["digest"]["xor_d"], rec["digest"]["sum_d"])
        for part, rec in manifest.doc["partitions"].items()
        if "digest" in rec
    ]
    if not rows:
        raise ValueError("manifest holds no digest state; run record_digest_state")
    bare = [
        part
        for part, rec in manifest.doc["partitions"].items()
        if "digest" not in rec
    ]
    if bare and not allow_partial:
        raise ValueError(
            f"{len(bare)} of {len(bare) + len(rows)} manifest partitions "
            f"carry no digest (e.g. {sorted(bare)[:3]}); certifying against "
            "a partial anchor set flags every uncovered partition — pass "
            "allow_partial=True to reconcile only covered partitions"
        )
    return spark.createDataFrame(
        rows, "part string, n_rows long, xor_d long, sum_d long"
    )


def merged_categorical_from_manifest(
    manifest: CheckpointManifest, cat_col: str
) -> dict[str, int]:
    """Merge every stored per-partition histogram for ``cat_col`` into one
    corpus-wide count dict — directly usable as
    ``CategoricalDriftCheck.baseline_counts``. Empty dict when no partition
    recorded the column."""
    out: dict[str, int] = {}
    for rec in manifest.doc["partitions"].values():
        for cat, n in rec.get("categorical", {}).get(cat_col, {}).items():
            out[cat] = out.get(cat, 0) + int(n)
    return out


def merged_distinct_from_manifest(
    spark, manifest: CheckpointManifest, column: str
) -> int | None:
    """Union every stored partition sketch for ``column`` into one global
    approx-distinct — partial→final across RUNS, no data rescan. Returns
    None when no partition recorded a sketch for the column."""
    import base64

    blobs = [
        base64.b64decode(rec["distinct"][column]["hll"])
        for rec in manifest.doc["partitions"].values()
        if column in rec.get("distinct", {})
    ]
    if not blobs:
        return None
    df = spark.createDataFrame(
        [(bytearray(b),) for b in blobs], "sketch binary"
    )
    est = df.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("d")
    ).first()["d"]
    return int(est)


def record_embedding_state(
    manifest: CheckpointManifest,
    df: DataFrame,
    vec_col: str,
    partition_col: str = "part",
    quant: int = 10**7,
) -> None:
    """Persist per-partition quantized embedding-centroid sums into the
    manifest — the embedding twin of :func:`record_categorical_state`.
    The state per partition is |dims| BIGINTs + a count (exact and
    order-independent: checks/drift.py:embedding_centroid_sums), and the
    merge is integer addition, so a later run rebuilds the corpus
    centroid for :func:`~taco_toolbox_spark.checks.drift.
    embedding_centroid_drift` — or drift-judges only NEW partitions —
    without rescanning finished ones."""
    from .checks.drift import embedding_centroid_sums

    rows = embedding_centroid_sums(df, vec_col, partition_col, quant).collect()
    for r in rows:
        rec = manifest.doc["partitions"].setdefault(r["part"], {})
        st = rec.setdefault("embedding", {}).setdefault(
            vec_col, {"quant": quant, "sums": {}, "n": 0}
        )
        st["sums"][str(r["dim"])] = int(r["s"])
        st["n"] = max(int(st["n"]), int(r["n"]))


def merged_embedding_from_manifest(
    manifest: CheckpointManifest, vec_col: str
) -> dict[str, int]:
    """Merge every stored per-partition centroid state for ``vec_col``
    into corpus-wide per-dim quantized sums ``{dim: sum}`` (integer
    addition — exact). Empty dict when no partition recorded the
    column."""
    out: dict[str, int] = {}
    for rec in manifest.doc["partitions"].values():
        st = rec.get("embedding", {}).get(vec_col)
        if st:
            for dim, s in st["sums"].items():
                out[dim] = out.get(dim, 0) + int(s)
    return out


def record_cms_state(
    manifest: CheckpointManifest,
    df: DataFrame,
    key_cols: list[str],
    depth: int = 4,
    width: int = 1024,
    partition_col: str = "part",
    hash_fn: str = "xxhash64",
) -> None:
    """Persist per-partition count-min counters into the manifest — the
    open-vocabulary twin of :func:`record_categorical_state`. Unlike the
    exact histogram (bounded only for CLOSED vocabularies) the state here
    is depth·width BIGINTs per partition no matter how many distinct keys
    the partition holds; the merge is element-wise integer addition, so a
    later run rebuilds the corpus-wide sketch — or estimates frequencies
    for only its NEW partitions' keys — without rescanning finished
    partitions. Only non-empty cells are stored (sparse dict
    ``"d:bucket" -> count``)."""
    from .sketches import cms_counters

    key = "\x1f".join(key_cols)
    rows = cms_counters(
        df, key_cols, depth=depth, width=width,
        part_col=partition_col, hash_fn=hash_fn,
    ).collect()
    for r in rows:
        rec = manifest.doc["partitions"].setdefault(str(r[partition_col]), {})
        st = rec.setdefault("cms", {}).setdefault(
            key, {"depth": depth, "width": width, "hash_fn": hash_fn,
                  "cells": {}},
        )
        st["cells"][f"{r['_d']}:{r['_bucket']}"] = int(r["_cnt"])


def merged_cms_from_manifest(
    spark, manifest: CheckpointManifest, key_cols: list[str]
) -> DataFrame | None:
    """Merge every stored per-partition count-min state for ``key_cols``
    into ONE corpus-wide counters frame (``_d, _bucket, _cnt``) — directly
    usable by :func:`~taco_toolbox_spark.sketches.cms_lookup` /
    :func:`~taco_toolbox_spark.sketches.cms_total`. Integer addition over
    sparse cells, exact. Returns None when no partition recorded the key
    (or geometries disagree — a config error surfaced loudly)."""
    from .schema import literal_frame

    key = "\x1f".join(key_cols)
    cells: dict[tuple[int, int], int] = {}
    geom: tuple | None = None
    for rec in manifest.doc["partitions"].values():
        st = rec.get("cms", {}).get(key)
        if not st:
            continue
        g = (st["depth"], st["width"], st["hash_fn"])
        if geom is None:
            geom = g
        elif geom != g:
            raise ValueError(
                f"count-min geometry mismatch across partitions: {geom} vs {g}"
            )
        for cell, n in st["cells"].items():
            d, b = cell.split(":")
            k = (int(d), int(b))
            cells[k] = cells.get(k, 0) + int(n)
    if not cells:
        return None
    return literal_frame(
        spark,
        [(d, b, n) for (d, b), n in sorted(cells.items())],
        "_d int, _bucket long, _cnt long",
    )


def record_bloom_state(
    manifest: CheckpointManifest,
    df: DataFrame,
    key_cols: list[str],
    num_bits: int,
    num_hashes: int,
    partition_col: str = "part",
    hash_fn: str = "xxhash64",
) -> None:
    """Persist per-partition Bloom set-bit positions into the manifest —
    the MEMBERSHIP sibling of :func:`record_cms_state`. State is ≤
    ``num_bits`` integers per partition no matter how many keys the
    partition holds; the merge is set union, so a later (or appending) run
    rebuilds corpus-wide membership — e.g. the incremental-dedup prefilter
    over only-new batches — without rescanning finished partitions."""
    from .sketches import bloom_positions

    key = "\x1f".join(key_cols)
    rows = bloom_positions(
        df, key_cols, num_bits=num_bits, num_hashes=num_hashes,
        part_col=partition_col, hash_fn=hash_fn,
    ).collect()
    by_part: dict[str, list[int]] = {}
    for r in rows:
        by_part.setdefault(str(r[partition_col]), []).append(int(r["_pos"]))
    for part, pos in by_part.items():
        rec = manifest.doc["partitions"].setdefault(part, {})
        rec.setdefault("bloom", {})[key] = {
            "num_bits": num_bits,
            "num_hashes": num_hashes,
            "hash_fn": hash_fn,
            "positions": sorted(pos),
        }


def merged_bloom_from_manifest(
    spark, manifest: CheckpointManifest, key_cols: list[str]
) -> DataFrame | None:
    """Union every stored per-partition Bloom state for ``key_cols`` into
    ONE corpus-wide positions frame (``_pos``) — directly usable by
    :func:`~taco_toolbox_spark.sketches.bloom_maybe_contains`. Returns
    None when no partition recorded the key; raises on geometry mismatch
    (a config error surfaced loudly, as with the count-min state)."""
    from .schema import literal_frame

    key = "\x1f".join(key_cols)
    pos: set[int] = set()
    geom: tuple | None = None
    found = False
    for rec in manifest.doc["partitions"].values():
        st = rec.get("bloom", {}).get(key)
        if not st:
            continue
        found = True
        g = (st["num_bits"], st["num_hashes"], st["hash_fn"])
        if geom is None:
            geom = g
        elif geom != g:
            raise ValueError(
                f"bloom geometry mismatch across partitions: {geom} vs {g}"
            )
        pos.update(int(p) for p in st["positions"])
    if not found:
        return None
    return literal_frame(spark, [(p,) for p in sorted(pos)], "_pos long")


def merged_quantiles_from_manifest(
    manifest: CheckpointManifest,
    value_expr: str,
    probes,
) -> list[float]:
    """Merge all stored per-partition KLL sketches into global quantiles —
    the partial→final pattern across *runs*, no data rescan. The merge and
    the quantile probes run on the JVM (``kll_merge_agg_double``,
    ``kll_sketch_get_quantile_double``) over a literal relation of the
    stored bytes. Raises ValueError when any partition holds pre-KLL
    centroid state for ``value_expr``."""
    from pyspark.sql import SparkSession

    from .schema import literal_frame

    ensure_kll_sketch_state(manifest, value_expr)
    blobs = [
        (sk["kll"],)
        for rec in manifest.doc["partitions"].values()
        if (sk := rec.get("sketch", {}).get(value_expr)) and sk["n"]
    ]
    if not blobs:
        return [float("nan")] * len(probes)
    merged = F.kll_merge_agg_double(F.unbase64("kll"))
    q = (
        literal_frame(SparkSession.active(), blobs, "kll string")
        .agg(
            F.kll_sketch_get_quantile_double(
                merged, F.array(*[F.lit(float(p)) for p in probes])
            ).alias("q")
        )
        .first()["q"]
    )
    return [float(x) for x in q]


def run_resumable(
    df: DataFrame,
    checks,
    manifest: CheckpointManifest,
    cfg=None,
    baseline: DataFrame | None = None,
):
    """Validate only partitions the manifest doesn't mark done; record
    per-partition verdicts into the manifest and commit it atomically.
    Returns the ValidationResult for the pending subset (verdicts/violations
    DataFrames), or None if everything was already done."""
    from .engine import EngineConfig, run_validation

    cfg = cfg or EngineConfig()
    pending = manifest.pending_filter(df, cfg.partition_col)
    if pending.select(cfg.partition_col).limit(1).count() == 0:
        return None
    result = run_validation(pending, checks, cfg, baseline=baseline)
    verdict_rows = result.verdicts.collect()
    by_part: dict[str, dict[str, int]] = {}
    for r in verdict_rows:
        by_part.setdefault(r["part"], {})[r["check_id"]] = int(r["n_violations"])
    counts = {
        r["part"]: r["n"]
        for r in pending.groupBy(F.col(cfg.partition_col).alias("part"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for part, verdicts in by_part.items():
        manifest.record_partition(part, verdicts, n_rows=counts.get(part))
    manifest.save()
    return result


def volume_history_from_manifest(
    spark, manifest: CheckpointManifest
) -> DataFrame:
    """Per-partition row counts ``(part, n)`` from a previous run's
    manifest — every validation run records ``n_rows`` per partition, so
    any manifest is already a volume-history source. Feed it to
    ``checks.health.volume_anomaly_vs_history`` to judge a NEW run
    against the blessed run's band: the self-calibrated band's one blind
    spot is a GLOBAL shift (every partition shrinking together moves the
    run's own median with it), and a historical band is the fix. The
    frame is manifest-sized (one row per recorded partition) and built
    via literal_frame — no Python-parallelize RDD plan."""
    from .schema import literal_frame

    rows = [
        (part, int(rec["n_rows"]))
        for part, rec in manifest.doc["partitions"].items()
        if rec.get("n_rows") is not None
    ]
    if not rows:
        raise ValueError(
            "manifest records no per-partition n_rows; it predates "
            "row-count recording or no partition finished"
        )
    return literal_frame(spark, rows, "part string, n long")


def cardinality_history_from_manifest(
    spark, manifest: CheckpointManifest, column: str
) -> DataFrame:
    """Per-partition distinct-count history ``(part, n)`` for ``column``
    from a previous run's stored HLL state (``record_distinct_state``
    persists both the sketch bytes and the per-partition estimate).
    Feed it to ``checks.health.cardinality_anomaly_vs_history`` to judge
    a new run's exact per-partition distincts against the blessed band —
    estimates carry the HLL's ~1.6% relative error, far below MAD-scale
    band half-widths. Manifest-sized literal frame, same contract as
    :func:`volume_history_from_manifest`."""
    from .schema import literal_frame

    rows = [
        (part, int(rec["distinct"][column]["estimate"]))
        for part, rec in manifest.doc["partitions"].items()
        if column in rec.get("distinct", {})
    ]
    if not rows:
        raise ValueError(
            f"manifest holds no distinct state for {column!r}; run "
            "record_distinct_state (validate.py --record-sketches)"
        )
    return literal_frame(spark, rows, "part string, n long")
