"""Schema-drift detection & evolution (SURVEY §1.3 — the reference's core idea).

Reference behavior re-expressed structurally (no probe temp tables, no
``information_schema`` round-trips):

- ``check_schema_drift`` ≈ ``SchemaDriftHandle.check_schema_drift``
  (/root/reference/utilities/etl.py:191-236): set-compare incoming vs
  destination columns → new columns + same-name/different-type columns.
- ``apply_drift`` ≈ ``handle_schema_drift`` (etl.py:238-277): a type
  change is NEVER an in-place cast — the incoming column is renamed to
  ``{col}_{type}`` (spaces → ``_``, etl.py:263) and lives alongside the
  original. Added columns extend the destination schema.

Two reference bugs are fixed by design (SURVEY §2.13.2–3): no
``details["dest_table"]`` KeyError path exists, and ALL type-changed
columns are handled (the reference ``return``-ed inside the loop and
only processed the first).

Scale notes: drift handling is pure metadata (``StructType`` diffing,
no Spark session) plus one projection per side — zero data movement.
The write path relies on Parquet ``mergeSchema`` /
``unionByName(allowMissingColumns=True)``, both of which are scan-time
concerns, so evolving a 100 TB table costs nothing beyond the normal
write.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType


@dataclass(frozen=True)
class ModifiedColumn:
    name: str
    dest_type: str  # simpleString of the destination's type
    incoming_type: str  # simpleString of the incoming type
    renamed_to: str  # {name}_{incoming_type}, spaces → "_"
    incoming_data_type: DataType  # the incoming type itself


@dataclass
class SchemaDrift:
    columns_to_add: list[StructField] = field(default_factory=list)
    modified_cols: list[ModifiedColumn] = field(default_factory=list)

    @property
    def has_drift(self) -> bool:
        return bool(self.columns_to_add or self.modified_cols)


def _suffixed_name(col: str, incoming_type: str) -> str:
    # parity with etl.py:263: f"{col}_{data_type}".replace(" ", "_")
    return f"{col}_{incoming_type}".replace(" ", "_")


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every ``nullable``, ``containsNull`` and
    ``valueContainsNull`` set, at any depth."""
    if isinstance(dt, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType)) for f in dt])
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType))
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType))
    return dt


def check_schema_drift(incoming: StructType, dest: StructType) -> SchemaDrift:
    """Diff an incoming batch schema against the destination schema.

    Returns the columns the destination must gain (new names) and the
    same-name columns whose types differ (structural comparison on
    Spark ``DataType``, not string names — nested/array types compare
    correctly). Nullability is not a type: a read returns every level
    nullable, so a batch whose array elements or struct fields are
    non-null matches the table it was written to.
    """
    dest_by_name = {f.name: f for f in dest.fields}
    drift = SchemaDrift()
    for f in incoming.fields:
        if f.name not in dest_by_name:
            drift.columns_to_add.append(f)
        elif _nullable(f.dataType) != _nullable(dest_by_name[f.name].dataType):
            drift.modified_cols.append(
                ModifiedColumn(
                    name=f.name,
                    dest_type=dest_by_name[f.name].dataType.simpleString(),
                    incoming_type=f.dataType.simpleString(),
                    renamed_to=_suffixed_name(f.name, f.dataType.simpleString()),
                    incoming_data_type=f.dataType,
                )
            )
    return drift


def evolve_schema(dest: StructType, drift: SchemaDrift) -> StructType:
    """Destination schema after applying drift: original columns, then
    added columns, then the suffixed columns for type changes (all
    drift-born columns are nullable — history rows lack them)."""
    fields = list(dest.fields)
    fields.extend(StructField(f.name, f.dataType, True) for f in drift.columns_to_add)
    fields.extend(
        StructField(m.renamed_to, m.incoming_data_type, True)
        for m in drift.modified_cols
    )
    return StructType(fields)


def apply_drift(batch: DataFrame, dest: StructType) -> DataFrame:
    """Rewrite an incoming batch so it is union-compatible with the
    evolved destination: every type-changed column is renamed to its
    ``{col}_{type}`` slot (ALL of them — reference bug §2.13.3 fixed);
    added columns pass through; unchanged columns untouched.
    """
    drift = check_schema_drift(batch.schema, dest)
    renamed = {m.name: m.renamed_to for m in drift.modified_cols}
    return batch.select(*[F.col(c).alias(renamed.get(c, c)) for c in batch.columns])


def sql_name(name: str) -> str:
    """``name`` as a backquoted SQL identifier, braces doubled for the
    ``spark.sql`` formatter."""
    name = name.replace("`", "``").replace("{", "{{").replace("}", "}}")
    return f"`{name}`"


def _sql_type(dt: DataType) -> str:
    """``dt`` in SQL type syntax (struct field names backquoted)."""
    if isinstance(dt, StructType):
        fields = ", ".join(f"{sql_name(f.name)}: {_sql_type(f.dataType)}" for f in dt)
        return f"STRUCT<{fields}>"
    if isinstance(dt, ArrayType):
        return f"ARRAY<{_sql_type(dt.elementType)}>"
    if isinstance(dt, MapType):
        return f"MAP<{_sql_type(dt.keyType)}, {_sql_type(dt.valueType)}>"
    return dt.simpleString()


def null_sql(dt: DataType) -> str:
    """A NULL of type ``dt`` as SQL text."""
    return f"CAST(NULL AS {_sql_type(dt)})"


def projection_sql(evolved: StructType, source: dict[str, str]) -> str:
    """SELECT list onto ``evolved`` (``*`` for the identity): field
    ``n`` reads column ``source[n]``, else a typed NULL."""
    if list(source.items()) == [(n, n) for n in evolved.names]:
        return "*"

    def col(f: StructField) -> str:
        src = source.get(f.name)
        if src is None:
            return f"{null_sql(f.dataType)} AS {sql_name(f.name)}"
        name = sql_name(f.name)
        return name if src == f.name else f"{sql_name(src)} AS {name}"

    return ", ".join(col(f) for f in evolved.fields)


def _project(df: DataFrame, evolved: StructType, source: dict[str, str]) -> DataFrame:
    """``df`` as one projection onto ``evolved`` (:func:`projection_sql`;
    none when that is the identity)."""
    select = projection_sql(evolved, source)
    if select == "*":
        return df
    return df.sparkSession.sql(f"SELECT {select} FROM {{df}}", df=df)


def drift_sources(
    dest: StructType, incoming: StructType
) -> tuple[StructType, dict[str, str], dict[str, str]]:
    """The drift of ``incoming`` vs ``dest`` as the evolved schema plus,
    per side, the column each evolved field reads (a field absent from
    a side's map reads a typed NULL); type-changed incoming columns
    feed their ``{col}_{type}`` slots."""
    drift = check_schema_drift(incoming, dest)
    renamed = {m.name: m.renamed_to for m in drift.modified_cols}
    return (
        evolve_schema(dest, drift),
        {c: c for c in dest.names},
        {renamed.get(c, c): c for c in incoming.names},
    )


def reconcile(target: DataFrame, batch: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Full drift pipeline: detect drift of ``batch`` vs ``target``,
    evolve the target schema, and return both sides projected onto the
    evolved schema (ready for union/merge): one drift computation
    (:func:`drift_sources`) and one projection per side."""
    evolved, target_src, batch_src = drift_sources(target.schema, batch.schema)
    return _project(target, evolved, target_src), _project(batch, evolved, batch_src)
