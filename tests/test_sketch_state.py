"""Sketch state in the checkpoint manifest: persist, reload, merge."""

import base64

import numpy as np
import pytest

from taco_toolbox_spark.checkpoint import (
    CheckpointManifest,
    ensure_kll_sketch_state,
    merged_quantiles_from_manifest,
    record_sketch_state,
)

PROBES = (0.1, 0.5, 0.9)


def test_sketch_roundtrip_and_merge(tmp_path, corpus, clean_pdf):
    path = str(tmp_path / "m.json")
    m = CheckpointManifest.load_or_create(path, "r", "mem://c")
    record_sketch_state(m, corpus.clean, "length(text)")
    m.save()

    m2 = CheckpointManifest.load_or_create(path, "r", "mem://c")
    some_part = next(iter(m2.doc["partitions"]))
    sk = m2.doc["partitions"][some_part]["sketch"]["length(text)"]
    assert sk["n"] > 0 and base64.b64decode(sk["kll"])

    q = merged_quantiles_from_manifest(m2, "length(text)", PROBES)
    exact = np.quantile(clean_pdf["text"].str.len().to_numpy(), PROBES)
    assert np.allclose(q, exact, rtol=0.1, atol=2.0)
    # total weight across partitions == total rows
    total = sum(
        rec["sketch"]["length(text)"]["n"]
        for rec in m2.doc["partitions"].values()
    )
    assert total == len(clean_pdf)


def test_sketch_state_refuses_centroid_format(tmp_path, corpus):
    """A manifest holding pre-KLL t-digest centroids (means/weights) is
    rejected by name, alone or mixed with KLL partitions — never merged
    around silently."""
    m = CheckpointManifest.load_or_create(
        str(tmp_path / "mk.json"), "r", "mem://c"
    )
    record_sketch_state(m, corpus.clean, "length(text)")
    ensure_kll_sketch_state(m)  # all KLL: accepted
    old = {"means": [1.0, 2.0], "weights": [3.0, 4.0], "n": 7,
           "vmin": 1.0, "vmax": 2.0}

    # mixed: one partition recorded by an older run
    m.doc["partitions"]["1999-01-01"] = {"sketch": {"length(text)": old}}
    for call in (
        lambda: ensure_kll_sketch_state(m),
        lambda: ensure_kll_sketch_state(m, "length(text)"),
        lambda: merged_quantiles_from_manifest(m, "length(text)", PROBES),
    ):
        with pytest.raises(ValueError, match=r"centroid .*1999-01-01"):
            call()
    # other expressions' state does not block this one
    ensure_kll_sketch_state(m, "other_expr")

    # old only
    m_old = CheckpointManifest.load_or_create(
        str(tmp_path / "mo.json"), "r", "mem://c"
    )
    m_old.doc["partitions"]["p"] = {"sketch": {"length(text)": old}}
    with pytest.raises(ValueError, match="centroid"):
        merged_quantiles_from_manifest(m_old, "length(text)", PROBES)


def test_distinct_sketch_merge_equals_whole_table(corpus, clean_pdf):
    """Unioning per-partition HLL sketches must give the IDENTICAL
    estimate as one whole-table sketch (register-state union is exact),
    and both must sit within HLL error of the exact distinct count."""
    import pyspark.sql.functions as F

    from taco_toolbox_spark.stats import distinct_sketches, merge_distinct_sketches

    per_part = distinct_sketches(corpus.clean, ["conv_id", "role"])
    merged = {
        r["column"]: r["approx_distinct"]
        for r in merge_distinct_sketches(per_part).collect()
    }
    whole = {
        r["column"]: r["approx_distinct"]
        for r in distinct_sketches(
            corpus.clean.withColumn("_one", F.lit("x")),
            ["conv_id", "role"],
            partition_col="_one",
        ).collect()
    }
    assert merged == whole
    exact_conv = clean_pdf.conv_id.nunique()
    assert abs(merged["conv_id"] - exact_conv) / exact_conv < 0.05
    assert merged["role"] == clean_pdf.role.nunique()  # tiny cardinality: exact


def test_distinct_state_manifest_roundtrip(tmp_path, corpus, clean_pdf):
    """record -> save -> reload -> union across RUNS without rescan."""
    from taco_toolbox_spark.checkpoint import (
        merged_distinct_from_manifest,
        record_distinct_state,
    )

    spark = corpus.clean.sparkSession
    path = str(tmp_path / "md.json")
    m = CheckpointManifest.load_or_create(path, "r", "mem://c")
    record_distinct_state(m, corpus.clean, ["conv_id"])
    m.save()

    m2 = CheckpointManifest.load_or_create(path, "r", "mem://c")
    est = merged_distinct_from_manifest(spark, m2, "conv_id")
    exact = clean_pdf.conv_id.nunique()
    assert abs(est - exact) / exact < 0.05
    assert merged_distinct_from_manifest(spark, m2, "absent_col") is None


def test_digest_state_manifest_roundtrip_and_certify(tmp_path, corpus):
    """record -> save -> reload -> certify a rewrite against the manifest
    digests WITHOUT rescanning the blessed corpus."""
    import pyspark.sql.functions as F

    from taco_toolbox_spark.checkpoint import (
        digest_frame_from_manifest,
        record_digest_state,
    )
    from taco_toolbox_spark.operators.digest import (
        content_digest,
        digest_mismatches,
    )

    spark = corpus.clean.sparkSession
    cols = ["conv_id", "turn_idx", "role", "text"]
    path = str(tmp_path / "mg.json")
    m = CheckpointManifest.load_or_create(path, "r", "mem://c")
    record_digest_state(m, corpus.clean, cols)
    m.save()

    m2 = CheckpointManifest.load_or_create(path, "r", "mem://c")
    assert m2.doc["digest_params"]["content_cols"] == cols
    stored = digest_frame_from_manifest(spark, m2)

    # a faithful rewrite certifies clean against the STORED digests
    rewrite = corpus.clean.orderBy("text").repartition(5)
    fresh = content_digest(
        rewrite.withColumn("part", F.col("part").cast("string")), cols, ["part"]
    )
    assert digest_mismatches(stored, fresh, ["part"]).count() == 0

    # a tampered rewrite is caught
    bad = content_digest(
        rewrite.filter("turn_idx < 9").withColumn(
            "part", F.col("part").cast("string")
        ),
        cols,
        ["part"],
    )
    assert digest_mismatches(stored, bad, ["part"]).count() > 0

    # parameter mixing is refused, not silently always-different
    with pytest.raises(ValueError, match="refusing to mix"):
        record_digest_state(m2, corpus.clean, cols, hash_fn="md5")


def test_digest_frame_refuses_partial_anchor_set(tmp_path, corpus):
    """A manifest where only some partitions carry digests must not
    silently certify-as-mismatch the uncovered ones."""
    from taco_toolbox_spark.checkpoint import (
        digest_frame_from_manifest,
        record_digest_state,
    )

    spark = corpus.clean.sparkSession
    m = CheckpointManifest.load_or_create(
        str(tmp_path / "mp.json"), "r", "mem://c"
    )
    # simulate a pre---record-digests run: partitions exist sans digest
    m.doc["partitions"]["2025-01-01"] = {"status": "done"}
    record_digest_state(
        m, corpus.clean.filter("part <> '2025-01-01'"),
        ["conv_id", "turn_idx"],
    )
    with pytest.raises(ValueError, match="carry no digest"):
        digest_frame_from_manifest(spark, m)
    partial = digest_frame_from_manifest(spark, m, allow_partial=True)
    assert "2025-01-01" not in {r["part"] for r in partial.collect()}
