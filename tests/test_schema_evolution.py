"""Unit tests for the drift module (SURVEY §1.3, §5): added column,
type change → suffixed column, BOTH at once (reference bug §2.13.3:
only the first type change was handled — must not regress to that),
and the no-drift identity case."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from the_movies_db_spark.schema_evolution import (
    apply_drift,
    check_schema_drift,
    evolve_schema,
    reconcile,
)

DEST = StructType(
    [
        StructField("id", LongType()),
        StructField("title", StringType()),
        StructField("vote_count", LongType()),
    ]
)


def test_no_drift():
    drift = check_schema_drift(DEST, DEST)
    assert not drift.has_drift
    assert evolve_schema(DEST, drift).fieldNames() == DEST.fieldNames()


def test_added_column():
    incoming = StructType(
        list(DEST.fields) + [StructField("origin_country", StringType())]
    )
    drift = check_schema_drift(incoming, DEST)
    assert [f.name for f in drift.columns_to_add] == ["origin_country"]
    assert drift.modified_cols == []
    assert evolve_schema(DEST, drift).fieldNames() == [
        "id",
        "title",
        "vote_count",
        "origin_country",
    ]


def test_type_change_suffixed_not_cast():
    incoming = StructType(
        [
            StructField("id", LongType()),
            StructField("title", StringType()),
            StructField("vote_count", DoubleType()),  # was LongType
        ]
    )
    drift = check_schema_drift(incoming, DEST)
    assert [m.renamed_to for m in drift.modified_cols] == ["vote_count_double"]
    evolved = evolve_schema(DEST, drift)
    # original column SURVIVES with its original type; new suffixed col added
    assert evolved["vote_count"].dataType == LongType()
    assert evolved["vote_count_double"].dataType == DoubleType()


def test_all_type_changes_handled_not_just_first():
    incoming = StructType(
        [
            StructField("id", StringType()),  # was LongType
            StructField("title", StringType()),
            StructField("vote_count", DoubleType()),  # was LongType
        ]
    )
    drift = check_schema_drift(incoming, DEST)
    assert sorted(m.renamed_to for m in drift.modified_cols) == [
        "id_string",
        "vote_count_double",
    ]


def test_reconcile_end_to_end(spark):
    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id long, title string, vote_count long"
    )
    batch = spark.createDataFrame(
        [(2, "b2", 2.5, "US"), (3, "c", 3.5, "FR")],
        "id long, title string, vote_count double, origin_country string",
    )
    t2, b2 = reconcile(target, batch)
    assert t2.columns == b2.columns
    assert set(t2.columns) == {
        "id",
        "title",
        "vote_count",
        "origin_country",
        "vote_count_double",
    }
    merged = t2.unionByName(b2)
    rows = {(r.id, r.title): r for r in merged.collect()}
    assert rows[(2, "b2")].vote_count is None
    assert rows[(2, "b2")].vote_count_double == 2.5
    assert rows[(2, "b")].vote_count == 20
    assert rows[(1, "a")].origin_country is None


def test_apply_drift_renames_without_touching_values(spark):
    batch = spark.createDataFrame([(1, 1.5)], "id long, vote_count double")
    out = apply_drift(batch, DEST)
    assert "vote_count_double" in out.columns and "vote_count" not in out.columns
    assert out.filter(F.col("vote_count_double") == 1.5).count() == 1


def test_drift_and_evolution_need_no_spark_session():
    """check_schema_drift + evolve_schema are pure metadata: a type
    change evolves in a process that never starts a SparkContext."""
    code = """
from pyspark import SparkContext
from pyspark.sql.types import DoubleType, LongType, StructField, StructType
from the_movies_db_spark.schema_evolution import check_schema_drift, evolve_schema
dest = StructType([StructField("id", LongType()), StructField("v", LongType())])
inc = StructType([StructField("id", LongType()), StructField("v", DoubleType())])
evolved = evolve_schema(dest, check_schema_drift(inc, dest))
assert evolved["v"].dataType == LongType()
assert evolved["v_double"].dataType == DoubleType()
assert SparkContext._active_spark_context is None
"""
    subprocess.run(
        [sys.executable, "-c", code],
        cwd=Path(__file__).resolve().parents[1],
        check=True,
        capture_output=True,
        timeout=120,
    )


def test_nested_nullability_is_not_drift():
    """Non-null array elements, map values and struct fields match their
    nullable twins: a read returns every level nullable."""
    from pyspark.sql.types import ArrayType, IntegerType, MapType

    strict = StructType([
        StructField("tags", ArrayType(IntegerType(), False)),
        StructField("m", MapType(StringType(), ArrayType(IntegerType(), False), False)),
        StructField("s", StructType([StructField("a", IntegerType(), False)])),
    ])
    loose = StructType([
        StructField("tags", ArrayType(IntegerType())),
        StructField("m", MapType(StringType(), ArrayType(IntegerType()))),
        StructField("s", StructType([StructField("a", IntegerType())])),
    ])
    assert not check_schema_drift(strict, loose).has_drift
    assert not check_schema_drift(loose, strict).has_drift
    changed = StructType([StructField("tags", ArrayType(LongType(), False))])
    assert [m.name for m in check_schema_drift(changed, loose).modified_cols] == ["tags"]
