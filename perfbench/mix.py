"""The frozen operator_mix query list and its structural expectations.

The names are keys of ``__spark_entry__.queries()``. The list is frozen
here, not imported from ``bench.py``, so a change to the headline list
does not silently change this benchmark. Each entry names the library
family whose code the query exercises.

Left out on purpose:

* sampling queries (``s1_stratified_sample``, ``m1_mixture_sample``, ...)
  whose rows are documented as seed- or layout-dependent;
* ``stream_sessionize`` and ``d4_profile_drift``, which stage files
  under a fixed path outside the working tree;
* queries over tables the benchmark does not generate (``customer``,
  ``nation``, ``region``, ``part``, ``supplier``);
* further queries of families already covered, to keep one run short.
"""

from __future__ import annotations

# name -> (family, tables the query reads)
QUERIES: dict[str, tuple[str, tuple[str, ...]]] = {
    "q1_pricing": ("operators", ("lineitem",)),
    "j3_rollup": ("operators", ("lineitem", "orders")),
    "text_distinctive_terms": ("operators", ("documents",)),
    "stats_quantiles": ("stats", ("orders",)),
    "d2_cat_drift": ("drift", ("events",)),
    "d3_embedding_drift": ("drift", ("embeddings",)),
    "d5_corr_drift": ("drift", ("events",)),
    "d6_cond_drift": ("drift", ("events",)),
    "d7_transition_drift": ("drift", ("events",)),
    "dedup_minhash": ("dedup", ("documents",)),
    "sim_topk": ("similarity", ("embeddings",)),
    "text_stats": ("functions", ("documents",)),
    "b1_bloom_contains": ("sketches", ("documents",)),
}

FAMILIES = sorted({fam for fam, _ in QUERIES.values()})


def input_rows(table_rows: dict[str, int]) -> int:
    """Rows the whole mix reads: each query's input tables, summed."""
    return sum(table_rows[t] for _, tables in QUERIES.values() for t in tables)


def expected_rows(tables_dir: str) -> dict[str, int]:
    """Row counts that follow from the inputs alone, computed with
    pandas: they hold for every seed, so the check does not depend on a
    stored golden."""
    import pandas as pd

    def read(name: str) -> pd.DataFrame:
        return pd.read_parquet(f"{tables_dir}/{name}.parquet")

    li = read("lineitem")
    orders = read("orders")
    ev = read("events")
    docs = read("documents")
    shipped = li[li.l_shipdate <= pd.Timestamp("1998-09-02")]
    joined = li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
    return {
        "q1_pricing": len(shipped.groupby(["l_returnflag", "l_linestatus"])),
        "j3_rollup": joined.o_orderpriority.nunique(),
        "d2_cat_drift": ev.ts.dt.strftime("%Y-%m-%d").nunique(),
        "d5_corr_drift": ev.event_type.nunique(),
        "stats_quantiles": 3,
        "text_stats": len(docs),
        "b1_bloom_contains": len(docs),
        "sim_topk": 10,
    }
