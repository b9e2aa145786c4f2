"""Seeded benchmark inputs, generated once per seed and cached.

Two input sets exist:

* ``transcripts``: ``N_PARTS`` day-partitions of a transcript corpus.
  The corpus (the pool) comes from
  ``taco_toolbox_spark.datagen.generate_transcripts`` (Spark) with a
  fixed generator seed and is generated once; ``--seed`` chooses which
  of its days an input holds (``select_transcripts``, plain file copies,
  no Spark). It feeds ``batch_validate`` and ``stream_validate``.
* ``tables``: the five parquet tables the ``operator_mix`` queries read
  (``lineitem``, ``orders``, ``events``, ``documents``, ``embeddings``),
  generated with numpy in the shapes of the repository's query fixtures.

Each set is cached under ``<root>/.bench_cache/inputs/<key>``, where the
key holds the seed, the size and a hash of the generator code, so a
change to the generator produces a new input instead of reusing a stale
one. A ``_READY.json`` file in the set records its row counts and a
content fingerprint; every benchmark result carries that record.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
CACHE = ROOT / ".bench_cache"

# transcript pool: 20k conversations over the generator's 90 days, one
# 2000-turn hot conversation in every 1000, ~0.1% violating turns
POOL_SEED = 42
N_CONVS = 20_000
VIOLATION_DENOM = 8000
HOT_EVERY = 1000
HOT_LEN = 2000
# an input: the pool's drift day, N_HOT days holding exactly one hot
# conversation and plain days up to N_PARTS (one --batch-parts 32 batch,
# two 8-file stream batches)
N_PARTS = 16
N_HOT = 2

# operator_mix tables, roughly the repository's sf0.01 fixture sizes
N_ORDERS = 15_000
N_LINEITEM = 60_000
N_EVENTS = 10_000
N_USERS = 150
N_DOCS = 500
N_VECS = 500
EMBED_DIM = 64

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EVENT_TYPES = ["click", "purchase", "signup", "view", "error"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _code_hash(*paths: Path) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def pool_key() -> str:
    code = _code_hash(
        ROOT / "taco_toolbox_spark" / "datagen.py", Path(__file__)
    )
    return f"pool-s{POOL_SEED}-c{N_CONVS}-h{HOT_EVERY}-{code}"


def transcripts_key(seed: int) -> str:
    return f"transcripts-s{seed}-p{N_PARTS}-{pool_key()}"


def tables_key(seed: int) -> str:
    return f"tables-s{seed}-o{N_ORDERS}-d{N_DOCS}-{_code_hash(Path(__file__))}"


def ready_record(path: Path) -> dict | None:
    try:
        return json.loads((path / "_READY.json").read_text())
    except (OSError, ValueError):
        return None


def table_digest(table) -> int:
    """Order-independent content digest of a pyarrow table: the sum of
    per-row hashes modulo 2**64. Spark writes rows in shuffle-fetch
    order, so file bytes are not stable while the rows are."""
    import pandas as pd

    df = table.to_pandas()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(repr)
    return int(pd.util.hash_pandas_object(df, index=False).sum()) % 2**64


def fingerprint(path: Path) -> str:
    """Digest of every table in an input set, by table name."""
    import pyarrow.parquet as pq

    h = hashlib.sha256()
    for t in sorted(p for p in path.iterdir() if not p.name.startswith(("_", "."))):
        h.update(f"{t.name}:{table_digest(pq.read_table(t))};".encode())
    return h.hexdigest()[:16]


def _publish(tmp: Path, final: Path, rows: dict) -> dict:
    record = {"key": final.name, "rows": rows, "fingerprint": fingerprint(tmp)}
    (tmp / "_READY.json").write_text(json.dumps(record, sort_keys=True))
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return record


def _partitioned_file_count(path: Path) -> int:
    return sum(1 for _ in path.glob("part=*/*.parquet"))


TRANSCRIPT_SETS = ("transcripts", "transcripts_baseline")


def write_pool(spark, final: Path) -> dict:
    """Generate the transcript pool, written like ``datagen.write_corpus``
    (one file per day-partition), and record each day's turn count and
    number of hot conversations."""
    from pyspark.sql import functions as F

    from taco_toolbox_spark.datagen import generate_transcripts

    corpus = generate_transcripts(
        spark,
        n_convs=N_CONVS,
        seed=POOL_SEED,
        violation_denom=VIOLATION_DENOM,
        hot_conv_every=HOT_EVERY,
        hot_len=HOT_LEN,
    )
    tmp = final.with_name(final.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    for name, df in zip(TRANSCRIPT_SETS, (corpus.corrupted, corpus.clean)):
        df.repartition("part").write.partitionBy("part").parquet(str(tmp / name))
    corpus.manifest.coalesce(1).write.parquet(str(tmp / "violation_manifest"))
    days = {
        r["part"]: [r["n"], r["hot"]]
        for r in corpus.clean.groupBy("part")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("turn_idx") == HOT_LEN - 1).cast("int")).alias("hot"),
        )
        .collect()
    }
    record = {"key": final.name, "days": days, "drift_day": corpus.drifted_parts[0]}
    (tmp / "_READY.json").write_text(json.dumps(record, sort_keys=True))
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return record


def choose_days(seed: int, days: dict[str, list[int]], drift_day: str) -> list[str]:
    """The pool's drift day, ``N_HOT`` days holding exactly one hot
    conversation and plain days, drawn by ``seed``. Every input has the
    same shape: its largest partitions, which set the battery's slowest
    task, are one hot conversation each, so seeds differ in content but
    not in the work their layout implies."""
    import random

    rng = random.Random(seed)
    single = sorted(d for d, (_, hot) in days.items() if hot == 1 and d != drift_day)
    plain = sorted(d for d, (_, hot) in days.items() if hot == 0 and d != drift_day)
    return sorted(
        [drift_day, *rng.sample(single, N_HOT), *rng.sample(plain, N_PARTS - N_HOT - 1)]
    )


def select_transcripts(seed: int, pool: Path, final: Path) -> dict:
    """Copy the days ``choose_days`` draws from the pool, with their rows
    of the violation manifest."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    record = ready_record(pool)
    keep = choose_days(seed, record["days"], record["drift_day"])
    tmp = final.with_name(final.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    for name in TRANSCRIPT_SETS:
        for day in keep:
            shutil.copytree(pool / name / f"part={day}", tmp / name / f"part={day}")
    manifest = pq.read_table(pool / "violation_manifest")
    manifest = manifest.filter(pc.is_in(manifest["part"], value_set=pa.array(keep, pa.string())))
    (tmp / "violation_manifest").mkdir()
    pq.write_table(manifest, tmp / "violation_manifest" / "part-00000.parquet")
    rows = {
        name: pq.read_table(tmp / name).num_rows
        for name in (*TRANSCRIPT_SETS, "violation_manifest")
    }
    rows["parts"] = len(keep)
    rows["files"] = _partitioned_file_count(tmp / "transcripts")
    return _publish(tmp, final, rows)


def write_tables(seed: int, final: Path) -> dict:
    """The operator_mix tables, from one numpy generator seeded by
    ``seed``. Documents share word runs (near-duplicates for the dedup
    family); embeddings cluster around one centre per label."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    tmp = final.with_name(final.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    day_us = 86_400 * 1_000_000
    t1995 = 788_918_400 * 1_000_000  # 1995-01-01 in microseconds
    t2024 = 1_704_067_200 * 1_000_000  # 2024-01-01

    def ts(values):
        return pa.array(values.astype("int64"), pa.timestamp("us"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    orders = pa.table(
        {
            "o_orderkey": np.arange(N_ORDERS, dtype="int64"),
            "o_custkey": rng.integers(0, N_ORDERS // 10, N_ORDERS),
            "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
            "o_totalprice": money(1000, 500_000, N_ORDERS),
            "o_orderdate": ts(t1995 + rng.integers(0, 2400, N_ORDERS) * day_us),
            "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
        }
    )
    okey = np.sort(rng.integers(0, N_ORDERS, N_LINEITEM))
    lineno = np.ones(N_LINEITEM, dtype="int32")
    for i in range(1, N_LINEITEM):
        if okey[i] == okey[i - 1]:
            lineno[i] = lineno[i - 1] + 1
    lineitem = pa.table(
        {
            "l_orderkey": okey.astype("int64"),
            "l_partkey": rng.integers(0, 2000, N_LINEITEM),
            "l_suppkey": rng.integers(0, 100, N_LINEITEM),
            "l_linenumber": lineno,
            "l_quantity": rng.integers(1, 51, N_LINEITEM).astype("float64"),
            "l_extendedprice": money(900, 105_000, N_LINEITEM),
            "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
            "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
            "l_linestatus": rng.choice(["F", "O"], N_LINEITEM),
            "l_shipdate": ts(t1995 + rng.integers(0, 2400, N_LINEITEM) * day_us),
        }
    )
    ev_ts = np.sort(t2024 + rng.integers(0, 30 * day_us, N_EVENTS))
    events = pa.table(
        {
            "event_id": np.arange(N_EVENTS, dtype="int64"),
            "ts": ts(ev_ts),
            "user_id": rng.integers(0, N_USERS, N_EVENTS),
            "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
            "value": np.round(rng.exponential(50, N_EVENTS) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )
    texts = []
    for _ in range(N_DOCS):
        if texts and rng.random() < 0.2:
            # near-duplicate: an earlier document with a few words replaced
            words = list(texts[rng.integers(0, len(texts))].split())
            for j in rng.integers(0, len(words), 2):
                words[j] = WORDS[rng.integers(0, len(WORDS))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), rng.integers(10, 100))]
        texts.append(" ".join(words))
    documents = pa.table(
        {
            "doc_id": np.arange(N_DOCS, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, N_DOCS),
            "source": [f"src{k}" for k in rng.integers(0, 20, N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    labels = rng.integers(0, 10, N_VECS).astype("int32")
    centres = rng.normal(0, 1, (10, EMBED_DIM))
    vecs = centres[labels] + rng.normal(0, 0.5, (N_VECS, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": np.arange(N_VECS, dtype="int64"),
            "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
            "label": labels,
        }
    )
    tables = {
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
        "embeddings": embeddings,
    }
    for name, t in tables.items():
        pq.write_table(t, tmp / f"{name}.parquet")
    return _publish(tmp, final, {k: t.num_rows for k, t in tables.items()})
