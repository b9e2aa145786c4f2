"""Transcript schema + schema comparison/alignment utilities.

The reference freezes a fixed core schema and validates every table against
it, reporting missing/extra/mistyped columns
(/root/reference/tacotoolbox/tortilla/datamodel.py:157-233,
_column_utils.py:173-220, tacocat.py:249-271). Here the core schema is the
transcript table from BASELINE.json's input_hint; comparison is driver-side
(Spark schemas are metadata) and alignment is a real plan transform.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Primary input table (BASELINE.json input_hint).
TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

ROLE_VOCAB = ("system", "user", "assistant", "tool")
TOOL_VOCAB = ("search", "code", "browser", "files")
CONV_ID_PATTERN = r"^conv_[a-z0-9]{8}$"


@dataclass
class SchemaDiff:
    """Result of comparing an observed schema against an expected one."""

    missing: list[str] = field(default_factory=list)
    extra: list[str] = field(default_factory=list)
    mistyped: list[tuple[str, str, str]] = field(default_factory=list)  # (col, want, got)

    @property
    def ok(self) -> bool:
        return not (self.missing or self.extra or self.mistyped)

    def report(self) -> str:
        if self.ok:
            return "schema: OK"
        parts = []
        if self.missing:
            parts.append(f"missing columns: {sorted(self.missing)}")
        if self.extra:
            parts.append(f"extra columns: {sorted(self.extra)}")
        if self.mistyped:
            parts.append(
                "mistyped: "
                + ", ".join(f"{c} (want {w}, got {g})" for c, w, g in self.mistyped)
            )
        return "schema: " + "; ".join(parts)


def compare_schema(
    observed: T.StructType,
    expected: T.StructType = TRANSCRIPT_SCHEMA,
    *,
    allow_extra: bool = True,
    check_nullability: bool = False,
) -> SchemaDiff:
    """Strict-mode schema equality check (reference: SchemaError with
    missing/extra column report, tortilla/datamodel.py:197-233)."""
    obs = {f.name: f for f in observed.fields}
    exp = {f.name: f for f in expected.fields}
    diff = SchemaDiff()
    for name, f_exp in exp.items():
        f_obs = obs.get(name)
        if f_obs is None:
            diff.missing.append(name)
        elif f_obs.dataType != f_exp.dataType or (
            check_nullability and f_obs.nullable != f_exp.nullable
        ):
            diff.mistyped.append(
                (name, f_exp.dataType.simpleString(), f_obs.dataType.simpleString())
            )
    if not allow_extra:
        diff.extra = [n for n in obs if n not in exp]
    return diff


def align_to_schema(df: DataFrame, expected: T.StructType) -> DataFrame:
    """Loose-mode alignment: add missing columns as typed nulls, cast
    mistyped ones, project to the expected column order (reference
    align_arrow_schemas, _column_utils.py:30-110). Pure projection — no
    shuffle, columns prune at the scan."""
    obs = {f.name: f for f in df.schema.fields}
    cols = []
    for f_exp in expected.fields:
        f_obs = obs.get(f_exp.name)
        if f_obs is None:
            cols.append(F.lit(None).cast(f_exp.dataType).alias(f_exp.name))
        elif f_obs.dataType != f_exp.dataType:
            cols.append(F.col(f_exp.name).cast(f_exp.dataType).alias(f_exp.name))
        else:
            cols.append(F.col(f_exp.name))
    return df.select(*cols)


def literal_frame(spark, rows: list[tuple], schema_ddl: str) -> DataFrame:
    """Small literal DataFrame built ENTIRELY JVM-side (range + explode of a
    literal struct array). ``spark.createDataFrame(local_rows)`` plans a
    Python ``parallelize`` RDD whose every evaluation launches Python worker
    processes — measured ~20s of pure worker-spawn wait per action on a
    loaded box for a 12-row frame. A literal projection keeps re-evaluations
    (e.g. a broadcast rebuilt per action) at JVM speed. Intended for
    dimension slivers like check registries and vocabularies.

    ``schema_ddl`` is parsed with ``StructType.fromDDL`` so parameterized
    types (``decimal(10,2)``, ``array<struct<...>>``) work; an empty
    ``rows`` list returns a typed empty LocalRelation (an empty
    ``F.array()`` would be NullType and break the star-expansion)."""
    struct = T.StructType.fromDDL(schema_ddl)
    if not rows:
        return spark.createDataFrame([], struct)
    # Column-wise array literals when every field is primitive. On
    # classic py4j, F.lit(list) still expands to array(lit(x) for x in
    # the column) — about one py4j call per cell (it is a single array
    # literal only under Spark Connect) — but the per-cell struct form
    # paid ~3-4 per cell (lit, cast, alias, plus a struct call per row).
    # Measured 4.2s -> 0.4s building a 200x4 registry; the drift/check
    # registries pay this on every benched plan build. arrays_zip +
    # explode preserves row order and the element-wise cast is the same
    # Cast the per-cell form applied.
    # Complex field types (array/map/struct cells) and columns lit()
    # cannot infer (e.g. mixed int/float) fall back to the per-cell form.
    if all(
        not isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        for f in struct.fields
    ):
        try:
            zipped = F.arrays_zip(
                *[
                    F.lit(list(c)).cast(T.ArrayType(f.dataType)).alias(f.name)
                    for c, f in zip(zip(*rows), struct.fields)
                ]
            )
            return (
                spark.range(1)
                .select(F.explode(zipped).alias("_s"))
                .select("_s.*")
            )
        except Exception:
            pass  # fall through to the per-cell struct form
    structs = [
        F.struct(
            *[
                F.lit(v).cast(f.dataType).alias(f.name)
                for v, f in zip(row, struct.fields)
            ]
        )
        for row in rows
    ]
    return (
        spark.range(1)
        .select(F.explode(F.array(*structs)).alias("_s"))
        .select("_s.*")
    )


def align_union(dfs: list[DataFrame]) -> DataFrame:
    """Union-with-null alignment across heterogeneous inputs (reference
    consolidation concat, tacocat.py:273-287): unionByName with
    allowMissingColumns, so Catalyst inserts typed-null projections."""
    out = dfs[0]
    for other in dfs[1:]:
        out = out.unionByName(other, allowMissingColumns=True)
    return out
