"""Join-strategy tests: bucketed co-located joins are shuffle-free,
salted joins return identical results to plain joins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from the_movies_db_spark.io import load_table
from the_movies_db_spark.operators import joins as J


@pytest.fixture(scope="module")
def bucket_db(spark, tmp_path_factory):
    loc = tmp_path_factory.mktemp("bucketdb")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketdb LOCATION '{loc}'")
    yield "bucketdb"
    spark.sql("DROP DATABASE IF EXISTS bucketdb CASCADE")


def test_bucketed_join_is_shuffle_free(spark, sf_dir, bucket_db):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    J.bucketed_write(li, f"{bucket_db}.li_b", "l_orderkey", 8, sort_cols="l_orderkey")
    J.bucketed_write(
        o.withColumnRenamed("o_orderkey", "l_orderkey"),
        f"{bucket_db}.o_b",
        "l_orderkey",
        8,
        sort_cols="l_orderkey",
    )
    # force a non-broadcast join so a shuffle would otherwise appear
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = J.colocated_join(spark, f"{bucket_db}.li_b", f"{bucket_db}.o_b", "l_orderkey")
        assert not J.has_shuffle(joined)
        # sanity: same row count as the plain join
        plain = li.join(
            o, li.l_orderkey == o.o_orderkey
        )
        assert joined.count() == plain.count()
        # and the plain (unbucketed) version DOES shuffle under SMJ
        assert J.has_shuffle(plain)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_salted_join_matches_plain_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    salted = J.salted_join(li, o, "l_orderkey", salt=4)
    plain = li.join(o, "l_orderkey")
    assert salted.count() == plain.count()
    a = {tuple(r) for r in salted.collect()}
    b = {tuple(r) for r in plain.collect()}
    assert a == b


def test_salted_join_spreads_hot_key(spark):
    # one key holds 90% of the rows; salting must spray it across salts
    big = spark.range(0, 1000).select(
        F.when(F.col("id") < 900, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.createDataFrame([(1, "hot"), (5, "cold")], "k long, v string")
    out = J.salted_join(big, small, "k", salt=4)
    assert out.filter(F.col("v") == "hot").count() == 900
    salts = (
        big.withColumn("__s", F.pmod(F.xxhash64("payload"), F.lit(4)))
        .filter(F.col("k") == 1)
        .select("__s")
        .distinct()
        .count()
    )
    assert salts == 4  # the hot key really lands in every salt bucket


def test_compact_table(spark, sf_dir, tmp_path):
    import glob
    import os

    from the_movies_db_spark.io import compact_table, load_table
    from the_movies_db_spark.upsert import read_table, rewrite_table, table_data_path

    path = str(tmp_path / "frag")
    # simulate small-file accretion: 64 tiny files
    df = load_table(spark, sf_dir, "orders")
    rewrite_table(spark, path, lambda _: df.repartition(64))
    before_rows = read_table(spark, path).count()

    files_before, files_after = compact_table(
        spark, path, target_file_mb=128, sort_within_by=["o_orderdate"]
    )
    assert files_before >= 64
    assert files_after < files_before and files_after <= 2
    data_files = glob.glob(os.path.join(table_data_path(path), "*.parquet"))
    assert len(data_files) == files_after
    assert read_table(spark, path).count() == before_rows


def test_json_ingest_roundtrip(spark, sf_dir, tmp_path):
    """JSON-lines ingest path: schema-declared read back of a JSON
    export matches the parquet original exactly."""
    from the_movies_db_spark.io import load_table

    d = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_json")
    d.write.json(path)
    back = spark.read.schema(d.schema).json(path)
    assert back.count() == d.count()
    assert back.schema == d.schema
    assert back.exceptAll(d).isEmpty() and d.exceptAll(back).isEmpty()


def test_write_zordered_clusters_both_dimensions(spark, sf_dir, tmp_path):
    """Z-ordered files must cover tighter (min,max) boxes in BOTH key
    columns than the unclustered layout — that box tightness is what
    lets parquet row-group stats prune two-dimensional predicates."""
    import glob

    from the_movies_db_spark.io import load_table, write_zordered

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    flat, zord = str(tmp_path / "flat"), str(tmp_path / "zord")
    li.repartition(8).write.parquet(flat)
    write_zordered(li, zord, "l_partkey", "l_suppkey", n_files=8)

    def mean_box_area(path):
        areas = []
        for f in glob.glob(f"{path}/*.parquet"):
            pdf = spark.read.parquet(f).toPandas()
            if len(pdf) == 0:
                continue
            areas.append(
                (pdf.l_partkey.max() - pdf.l_partkey.min() + 1)
                * (pdf.l_suppkey.max() - pdf.l_suppkey.min() + 1)
            )
        return sum(areas) / len(areas)

    # round-robin files span ~the full key space; z-ordered files cover
    # a fraction of it (locality in both dims simultaneously)
    assert mean_box_area(zord) < mean_box_area(flat) * 0.5
