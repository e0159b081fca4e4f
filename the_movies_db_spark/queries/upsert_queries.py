"""Oracle-checked demos of the upsert engine + schema evolution
(SURVEY §2.2 K2/K3, §1.3) on deterministic scenarios derived from the
``orders`` table — every MERGE branch (insert / update / no-op keep /
null-transition / target-retention) is exercised and the whole result
is value-hashed against a pure-SQL replication of the semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from the_movies_db_spark.io import load_table
from the_movies_db_spark.queries import register
from the_movies_db_spark.schema_evolution import reconcile
from the_movies_db_spark.upsert import (
    changed_predicate,
    keep_latest,
    merge_preview,
    merge_upsert,
)

# Scenario for upsert_merge (all arithmetic mirrored in the oracle SQL):
#   target = orders with o_orderkey % 4 != 0        (pk, price, status, audit=o_orderdate)
#   batch  = orders with o_orderkey % 2 == 0, where
#     - % 3 == 0 rows get price + 1000              (→ UPDATE branch)
#     - % 5 == 0 rows get status := NULL            (→ null-safe change branch)
#     - other matched rows are unchanged            (→ no-op: target row + audit kept)
#     - % 4 == 0 rows are absent from target        (→ INSERT branch)
#   audit column on batch rows is o_orderdate + 1 day, so the no-op
#   branch is OBSERVABLE: an unchanged matched row keeps the old audit.


def _target(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") % 4 != 0).select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("price"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").alias("record_loaded_at"),
    )


def _batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.round(
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 3 == 0, 1000.0).otherwise(0.0),
            2,
        ).alias("price"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None)).otherwise(
            F.col("o_orderstatus")
        ).alias("status"),
        F.expr("o_orderdate + INTERVAL 1 DAY").alias("record_loaded_at"),
    )


@register(
    "upsert_merge",
    """
    WITH t AS (
      SELECT o_orderkey, round(o_totalprice, 2) AS price, o_orderstatus AS status,
             o_orderdate AS record_loaded_at
      FROM orders WHERE o_orderkey % 4 != 0
    ), b AS (
      SELECT o_orderkey,
             round(o_totalprice + CASE WHEN o_orderkey % 3 = 0 THEN 1000.0 ELSE 0.0 END, 2) AS price,
             CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderstatus END AS status,
             o_orderdate + INTERVAL 1 DAY AS record_loaded_at
      FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT coalesce(t.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN t.o_orderkey IS NULL
                  OR (b.o_orderkey IS NOT NULL
                      AND ((t.price  IS DISTINCT FROM b.price)
                        OR (t.status IS DISTINCT FROM b.status)))
                THEN b.price  ELSE t.price  END AS price,
           CASE WHEN t.o_orderkey IS NULL
                  OR (b.o_orderkey IS NOT NULL
                      AND ((t.price  IS DISTINCT FROM b.price)
                        OR (t.status IS DISTINCT FROM b.status)))
                THEN b.status ELSE t.status END AS status,
           CASE WHEN t.o_orderkey IS NULL
                  OR (b.o_orderkey IS NOT NULL
                      AND ((t.price  IS DISTINCT FROM b.price)
                        OR (t.status IS DISTINCT FROM b.status)))
                THEN b.record_loaded_at ELSE t.record_loaded_at END AS record_loaded_at
    FROM t FULL OUTER JOIN b ON t.o_orderkey = b.o_orderkey
    """,
    doc=(
        "SCD-1 MERGE with null-safe change detection and no-op suppression "
        "(reference K2/K3 parity, /root/reference/utilities/etl.py:88-183 + "
        "queries.py:35-48) as one full-outer-join plan."
    ),
)
def upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    return merge_upsert(
        _target(spark, sf_dir),
        _batch(spark, sf_dir),
        pk="o_orderkey",
        order_col="record_loaded_at",
    )


@register(
    "upsert_keep_latest",
    """
    WITH versions AS (
      SELECT o_orderkey, round(o_totalprice, 2) AS price,
             o_orderdate AS record_loaded_at, 1 AS ver
      FROM orders
      UNION ALL
      SELECT o_orderkey, round(o_totalprice + 500.0, 2) AS price,
             o_orderdate + INTERVAL 1 DAY AS record_loaded_at, 2 AS ver
      FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT o_orderkey, price, record_loaded_at, ver
    FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                       ORDER BY record_loaded_at DESC) AS rn
          FROM versions) v
    WHERE rn = 1
    """,
    doc=(
        "Keyed in-batch dedup, keep-latest by audit timestamp — the scale-safe "
        "replacement for the reference's full-row drop_duplicates (etl.py:143)."
    ),
)
def upsert_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    v1 = o.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("price"),
        F.col("o_orderdate").alias("record_loaded_at"),
        F.lit(1).alias("ver"),
    )
    v2 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") + 500.0, 2).alias("price"),
        F.expr("o_orderdate + INTERVAL 1 DAY").alias("record_loaded_at"),
        F.lit(2).alias("ver"),
    )
    return keep_latest(v1.unionByName(v2), "o_orderkey", "record_loaded_at")


@register(
    "schema_drift_add",
    """
    WITH t AS (SELECT o_orderkey, o_orderstatus FROM orders),
         b AS (SELECT o_orderkey, o_orderstatus, o_orderpriority
               FROM orders WHERE o_orderkey % 2 = 0)
    SELECT t.o_orderkey, t.o_orderstatus, b.o_orderpriority
    FROM t LEFT JOIN b ON t.o_orderkey = b.o_orderkey
    """,
    doc=(
        "Added-column drift: batch carries a new column, merge evolves the "
        "target schema (reference etl.py:222-224 + 246-259); history rows "
        "read back as NULL."
    ),
)
def schema_drift_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    target = o.select("o_orderkey", "o_orderstatus")
    batch = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    return merge_upsert(target, batch, pk="o_orderkey", order_col=None)


@register(
    "schema_drift_type",
    """
    SELECT o_orderkey,
           CAST(NULL AS BIGINT)          AS o_custkey,
           CAST(o_custkey AS VARCHAR)    AS o_custkey_string
    FROM orders
    """,
    doc=(
        "Type-change drift: never an in-place cast — the incoming column is "
        "renamed to {col}_{type} alongside the original (reference "
        "etl.py:263-276; ALL changed columns handled, fixing bug §2.13.3)."
    ),
)
def schema_drift_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    dest = o.select("o_orderkey", "o_custkey")
    batch = o.select("o_orderkey", F.col("o_custkey").cast("string").alias("o_custkey"))
    _, evolved_batch = reconcile(dest.limit(0), batch)
    return evolved_batch.select("o_orderkey", "o_custkey", "o_custkey_string")


@register(
    "upsert_change_stats",
    """
    WITH t AS (
      SELECT o_orderkey, round(o_totalprice, 2) AS price, o_orderstatus AS status
      FROM orders WHERE o_orderkey % 4 != 0
    ), b AS (
      SELECT o_orderkey,
             round(o_totalprice + CASE WHEN o_orderkey % 3 = 0 THEN 1000.0 ELSE 0.0 END, 2) AS price,
             CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderstatus END AS status
      FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT CASE WHEN t.o_orderkey IS NULL THEN 'insert'
                WHEN b.o_orderkey IS NULL THEN 'untouched'
                WHEN (t.price  IS DISTINCT FROM b.price)
                  OR (t.status IS DISTINCT FROM b.status) THEN 'update'
                ELSE 'noop' END AS action,
           count(*) AS n
    FROM t FULL OUTER JOIN b ON t.o_orderkey = b.o_orderkey
    GROUP BY 1
    """,
    doc=(
        "MERGE change audit: classify every key as insert / update / "
        "noop / untouched using the same null-safe change predicate the "
        "upsert applies (reference update_cond, etl.py:160-162) — the "
        "observability view a 100 TB incremental load needs."
    ),
)
def upsert_change_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    target = _target(spark, sf_dir)
    preview = merge_preview(
        target,
        _batch(spark, sf_dir),
        "o_orderkey",
        matched_update=changed_predicate(
            [f for f in target.schema if f.name != "o_orderkey"]
        ),
    )
    return (
        preview.replace(
            {"noop_matched": "noop", "keep_target": "untouched"}, subset="action"
        )
        .groupBy("action")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "upsert_scd2",
    """
    WITH t AS (  -- current versions: one per key, valid since orderdate
      SELECT o_orderkey, round(o_totalprice, 2) AS price, o_orderstatus AS status,
             o_orderdate AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to
      FROM orders WHERE o_orderkey % 4 != 0
    ), b AS (
      SELECT o_orderkey,
             round(o_totalprice + CASE WHEN o_orderkey % 3 = 0 THEN 1000.0 ELSE 0.0 END, 2) AS price,
             CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderstatus END AS status,
             o_orderdate + INTERVAL 1 DAY AS ts
      FROM orders WHERE o_orderkey % 2 = 0
    ), chg AS (
      SELECT t.o_orderkey FROM t JOIN b USING (o_orderkey)
      WHERE (t.price IS DISTINCT FROM b.price) OR (t.status IS DISTINCT FROM b.status)
    )
    SELECT t.o_orderkey, t.price, t.status, t.valid_from,
           CASE WHEN chg.o_orderkey IS NOT NULL THEN b.ts END AS valid_to
    FROM t LEFT JOIN chg USING (o_orderkey) LEFT JOIN b USING (o_orderkey)
    UNION ALL
    SELECT b.o_orderkey, b.price, b.status, b.ts AS valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to
    FROM b LEFT JOIN t USING (o_orderkey)
    WHERE t.o_orderkey IS NULL
       OR b.o_orderkey IN (SELECT o_orderkey FROM chg)
    """,
    doc=(
        "SCD Type-2 MERGE: changed keys close their current version "
        "(valid_to = batch ts) and insert a new open version; new keys "
        "insert; unchanged keys untouched — full history retained."
    ),
)
def upsert_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from the_movies_db_spark.upsert import scd2_upsert

    o = load_table(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") % 4 != 0).select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("price"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").alias("valid_from"),
        F.lit(None).cast(o.schema["o_orderdate"].dataType).alias("valid_to"),
    )
    batch = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.round(
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 3 == 0, 1000.0).otherwise(0.0),
            2,
        ).alias("price"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None)).otherwise(
            F.col("o_orderstatus")
        ).alias("status"),
        F.expr("o_orderdate + INTERVAL 1 DAY").alias("ts"),
    )
    return scd2_upsert(target, batch, "o_orderkey", "ts")


@register(
    "upsert_time_travel",
    """
    WITH t AS (
      SELECT o_orderkey, round(o_totalprice, 2) AS price, o_orderstatus AS status
      FROM orders WHERE o_orderkey % 4 != 0
    ), b AS (
      SELECT o_orderkey,
             round(o_totalprice + CASE WHEN o_orderkey % 3 = 0 THEN 1000.0 ELSE 0.0 END, 2) AS price,
             CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderstatus END AS status
      FROM orders WHERE o_orderkey % 2 = 0
    ), m AS (
      SELECT coalesce(t.o_orderkey, b.o_orderkey) AS o_orderkey,
             CASE WHEN t.o_orderkey IS NULL
                    OR (b.o_orderkey IS NOT NULL
                        AND ((t.price  IS DISTINCT FROM b.price)
                          OR (t.status IS DISTINCT FROM b.status)))
                  THEN b.price  ELSE t.price  END AS price,
             CASE WHEN t.o_orderkey IS NULL
                    OR (b.o_orderkey IS NOT NULL
                        AND ((t.price  IS DISTINCT FROM b.price)
                          OR (t.status IS DISTINCT FROM b.status)))
                  THEN b.status ELSE t.status END AS status
      FROM t FULL OUTER JOIN b ON t.o_orderkey = b.o_orderkey
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM t) AS n_v1,
           (SELECT CAST(count(*) AS BIGINT) FROM m) AS n_current,
           (SELECT CAST(count(*) AS BIGINT) FROM m
             WHERE o_orderkey NOT IN (SELECT o_orderkey FROM t)) AS n_inserted,
           (SELECT CAST(count(*) AS BIGINT) FROM m JOIN t USING (o_orderkey)
             WHERE (m.price  IS DISTINCT FROM t.price)
                OR (m.status IS DISTINCT FROM t.status)) AS n_updated,
           (SELECT CAST(count(*) AS BIGINT) FROM m JOIN t USING (o_orderkey)
             WHERE (m.price  IS NOT DISTINCT FROM t.price)
               AND (m.status IS NOT DISTINCT FROM t.status)) AS n_unchanged
    """,
    doc=(
        "Version time travel on the plain-Parquet versioned table: two "
        "real write_upsert commits with a retention window of 2, then "
        "read_table(version=...) reads the FIRST version (Delta's "
        "VERSION AS OF analog — the pointer flip never rewrote it) and "
        "the diff against current classifies every key as inserted / "
        "updated / unchanged. Exercises the atomic-commit + vacuum-"
        "retention machinery end-to-end inside the correctness gate."
    ),
)
def upsert_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from the_movies_db_spark.io import scratch_dir
    from the_movies_db_spark.upsert import list_versions, read_table, write_upsert

    tbl = scratch_dir("ttravel") + "/orders_tbl"
    write_upsert(
        spark, tbl, _target(spark, sf_dir), "o_orderkey",
        keep_versions=2,
    )
    write_upsert(
        spark, tbl, _batch(spark, sf_dir), "o_orderkey",
        keep_versions=2,
    )
    # the diff of the first version against current is a MERGE
    # preview of one into the other
    first = read_table(spark, tbl, version=list_versions(tbl)[0])
    diff = merge_preview(
        first,
        read_table(spark, tbl),
        "o_orderkey",
        matched_update=changed_predicate(
            [f for f in first.schema if f.name != "o_orderkey"]
        ),
    )
    action = F.col("action")
    return diff.agg(
        F.count_if(action != "insert").alias("n_v1"),
        F.count_if(action != "keep_target").alias("n_current"),
        F.count_if(action == "insert").alias("n_inserted"),
        F.count_if(action == "update").alias("n_updated"),
        F.count_if(action == "noop_matched").alias("n_unchanged"),
    )


from the_movies_db_spark.queries import REGISTRY as _REG  # noqa: E402


@register(
    "upsert_scd2_asof",
    f"""
    WITH scd2 AS ({_REG["upsert_scd2"].oracle}),
    probes AS (
      SELECT o_orderkey,
             o_orderdate + INTERVAL 12 HOUR AS as_of
      FROM orders WHERE o_orderkey % 10 = 2
      UNION ALL
      SELECT o_orderkey,
             o_orderdate + INTERVAL 2 DAY AS as_of
      FROM orders WHERE o_orderkey % 10 = 2
    )
    SELECT p.o_orderkey, p.as_of, s.price, s.status
    FROM probes p
    JOIN scd2 s ON s.o_orderkey = p.o_orderkey
              AND s.valid_from <= p.as_of
              AND (s.valid_to IS NULL OR p.as_of < s.valid_to)
    """,
    doc=(
        "Point-in-time (AS OF) lookup over the SCD2 history: each "
        "(key, as_of) probe returns the version whose "
        "[valid_from, valid_to) interval covers the probe instant — "
        "one probe lands BEFORE the type-2 change, one after, so both "
        "version selections are value-pinned. The oracle nests the "
        "full upsert_scd2 oracle as a CTE, so the history being probed "
        "is exactly the MERGE's output."
    ),
)
def upsert_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal validity join against SCD2 output.

    Scale notes (100 TB): this is an EQUI-join on the business key
    with the validity window as a residual predicate — each key holds
    a handful of versions, so the join shuffles once on the key and
    never degenerates into a range-only theta join (the trap is
    joining on the interval alone; always key-first). The probe side
    here derives from orders; in production it is the fact table
    asking for dimension attributes as-of each fact timestamp."""
    from the_movies_db_spark.upsert import scd2_upsert

    o = load_table(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") % 4 != 0).select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("price"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").alias("valid_from"),
        F.lit(None).cast(o.schema["o_orderdate"].dataType).alias("valid_to"),
    )
    batch = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.round(
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 3 == 0, 1000.0).otherwise(0.0),
            2,
        ).alias("price"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None)).otherwise(
            F.col("o_orderstatus")
        ).alias("status"),
        F.expr("o_orderdate + INTERVAL 1 DAY").alias("ts"),
    )
    scd2 = scd2_upsert(target, batch, "o_orderkey", "ts")
    base = o.filter(F.col("o_orderkey") % 10 == 2)
    probes = base.select(
        "o_orderkey", F.expr("o_orderdate + INTERVAL 12 HOUR").alias("as_of")
    ).unionByName(
        base.select(
            "o_orderkey", F.expr("o_orderdate + INTERVAL 2 DAY").alias("as_of")
        )
    )
    s = scd2.select(
        F.col("o_orderkey").alias("s_key"), "price", "status", "valid_from", "valid_to"
    )
    return (
        probes.join(
            s,
            (F.col("s_key") == F.col("o_orderkey"))
            & (F.col("valid_from") <= F.col("as_of"))
            & (F.col("valid_to").isNull() | (F.col("as_of") < F.col("valid_to"))),
        )
        .select("o_orderkey", "as_of", "price", "status")
    )


@register(
    "upsert_partitioned",
    """
    WITH t AS (
      SELECT o_orderkey, round(o_totalprice, 2) AS price,
             o_orderstatus AS status,
             strftime(o_orderdate, '%Y-%m') AS month,
             o_orderdate AS record_loaded_at
      FROM orders WHERE o_orderkey % 4 != 0
    ), b AS (
      SELECT o_orderkey,
             round(o_totalprice
                   + CASE WHEN o_orderkey % 3 = 0 THEN 1000.0 ELSE 0.0 END,
                   2) AS price,
             CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderstatus END
               AS status,
             strftime(o_orderdate, '%Y-%m') AS month,
             o_orderdate + INTERVAL 1 DAY AS record_loaded_at
      FROM orders
      WHERE o_orderkey % 2 = 0
        AND substr(strftime(o_orderdate, '%Y-%m'), 6, 2) IN ('01', '06')
    ), m AS (
      SELECT coalesce(t.o_orderkey, b.o_orderkey) AS o_orderkey,
             coalesce(t.month, b.month) AS month,
             CASE WHEN t.o_orderkey IS NULL
                    OR (b.o_orderkey IS NOT NULL
                        AND ((t.price  IS DISTINCT FROM b.price)
                          OR (t.status IS DISTINCT FROM b.status)))
                  THEN b.price ELSE t.price END AS price,
             CASE WHEN t.o_orderkey IS NULL
                    OR (b.o_orderkey IS NOT NULL
                        AND ((t.price  IS DISTINCT FROM b.price)
                          OR (t.status IS DISTINCT FROM b.status)))
                  THEN b.record_loaded_at ELSE t.record_loaded_at END
               AS record_loaded_at
      FROM t FULL OUTER JOIN b ON t.o_orderkey = b.o_orderkey
    )
    SELECT month,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           max(record_loaded_at) AS last_loaded_at
    FROM m GROUP BY month
    """,
    doc=(
        "Partition-pruned MERGE (K2's at-scale form) under the "
        "correctness gate: a REAL partitionBy(month) table is written, "
        "a batch touching only January/June partitions is merged via "
        "write_upsert_partitioned (read with partition-pruning IN "
        "filter, ONLY those directories rewritten into the next "
        "version, every other partition hard-linked into it), and the "
        "committed version reads back through read_table equal to the "
        "global-merge oracle — proving untouched partitions survived "
        "byte-for-byte."
    ),
)
def upsert_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end partitioned upsert: only touched months rewritten.

    Scale notes (100 TB): the batch's distinct partition values prune
    the target scan (a daily increment reads 0.1% of a date-
    partitioned table); only those directories are rewritten into the
    next version, the rest are hard-linked into it, and one pointer
    flip commits it. The full-outer merge shuffles only the touched
    partitions' rows."""
    from the_movies_db_spark.io import scratch_dir
    from the_movies_db_spark.upsert import read_table, write_upsert_partitioned

    o = load_table(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM")
    target = o.filter(F.col("o_orderkey") % 4 != 0).select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("price"),
        F.col("o_orderstatus").alias("status"),
        month.alias("month"),
        F.col("o_orderdate").alias("record_loaded_at"),
    )
    batch = (
        o.filter(
            (F.col("o_orderkey") % 2 == 0)
            & F.substring(month, 6, 2).isin("01", "06")
        )
        .select(
            "o_orderkey",
            F.round(
                F.col("o_totalprice")
                + F.when(F.col("o_orderkey") % 3 == 0, 1000.0).otherwise(0.0),
                2,
            ).alias("price"),
            F.when(
                F.col("o_orderkey") % 5 == 0, F.lit(None).cast("string")
            )
            .otherwise(F.col("o_orderstatus"))
            .alias("status"),
            month.alias("month"),
            F.expr("o_orderdate + INTERVAL 1 DAY").alias("record_loaded_at"),
        )
    )
    tbl = scratch_dir("parted") + "/orders_tbl"
    write_upsert_partitioned(
        spark, tbl, target, pk="o_orderkey", partition_col="month"
    )
    write_upsert_partitioned(
        spark, tbl, batch, pk="o_orderkey", partition_col="month"
    )
    merged = read_table(spark, tbl)
    return merged.groupBy("month").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.expr("CAST(round(price * 100) AS BIGINT)"))
        .cast("bigint")
        .alias("sum_cents"),
        F.max("record_loaded_at").alias("last_loaded_at"),
    )


# ---------------------------------------------------------------------------
# MERGE ... WHEN MATCHED THEN DELETE (right-to-erasure purge)
# ---------------------------------------------------------------------------


@register(
    "upsert_delete_purge",
    """
    WITH t AS (
      SELECT o_orderkey, o_orderstatus AS status
      FROM orders WHERE o_orderkey % 4 != 0
    )
    SELECT status,
           CAST(count(CASE WHEN o_orderkey % 10 != 1 THEN 1 END) AS BIGINT)
             AS n_rows_current,
           CAST(count(*) AS BIGINT) AS n_rows_predelete,
           CAST(count(CASE WHEN o_orderkey % 10 = 1 THEN 1 END) AS BIGINT)
             AS n_deleted,
           CAST(0 AS BIGINT) AS n_residue
    FROM t GROUP BY 1
    """,
    doc=(
        "MERGE ... WHEN MATCHED THEN DELETE against the versioned "
        "table (upsert.delete_keys): a deterministic key batch is "
        "purged under the writer lease, the new version commits via "
        "the atomic pointer, and the result proves three things per "
        "status: the purge removed exactly the doomed keys "
        "(n_residue = 0 — the oracle pins the literal), current "
        "counts match the source minus the batch, and TIME TRAVEL to "
        "the pre-delete version still reads the full table until the "
        "retention window vacuums it — the right-to-erasure lifecycle "
        "end to end."
    ),
)
def upsert_delete_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned DELETE + residue proof + pre-delete time travel.

    Scale notes (100 TB): the purge is one anti-join writing a new
    version (with Delta/Iceberg this is a native MERGE DELETE with
    file-level pruning); the proof aggregates are status-grain."""
    from the_movies_db_spark.io import scratch_dir
    from the_movies_db_spark.upsert import (
        delete_keys,
        list_versions,
        read_table,
        write_upsert,
    )

    tbl = scratch_dir("delpurge") + "/orders_tbl"
    write_upsert(
        spark, tbl, _target(spark, sf_dir), "o_orderkey", keep_versions=2
    )
    doomed = (
        load_table(spark, sf_dir, "orders")
        .filter(F.expr("o_orderkey % 10 = 1"))
        .select("o_orderkey")
    )
    delete_keys(spark, tbl, doomed, "o_orderkey", keep_versions=2)
    versions = list_versions(tbl)
    cur = read_table(spark, tbl).groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows_current"),
        F.count(F.expr("CASE WHEN o_orderkey % 10 = 1 THEN 1 END"))
        .cast("bigint")
        .alias("n_residue"),
    )
    pre = read_table(spark, tbl, version=versions[0]).groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows_predelete")
    )
    return cur.join(pre, "status").select(
        "status",
        "n_rows_current",
        "n_rows_predelete",
        F.expr(
            "CAST(n_rows_predelete - n_rows_current AS BIGINT)"
        ).alias("n_deleted"),
        "n_residue",
    )


@register(
    "upsert_vacuum_versions",
    """
    WITH b1 AS (
      SELECT o_orderkey, round(o_totalprice, 2) AS price
      FROM orders WHERE o_orderkey % 4 != 0
    ), b2 AS (
      SELECT o_orderkey,
             round(o_totalprice
                   + CASE WHEN o_orderkey % 3 = 0 THEN 1000.0
                          ELSE 0.0 END, 2) AS price
      FROM orders WHERE o_orderkey % 2 = 0
    ), b3 AS (
      SELECT o_orderkey, round(o_totalprice + 7.0, 2) AS price
      FROM orders WHERE o_orderkey % 3 = 0
    ), u AS (
      SELECT o_orderkey, price, 1 AS src FROM b1
      UNION ALL SELECT o_orderkey, price, 2 FROM b2
      UNION ALL SELECT o_orderkey, price, 3 FROM b3
    ), cur AS (
      SELECT o_orderkey, price FROM (
        SELECT u.*, row_number()
                 OVER (PARTITION BY o_orderkey ORDER BY src DESC) AS rn
        FROM u
      ) r WHERE rn = 1
    )
    SELECT CAST(3 AS BIGINT) AS n_versions_before,
           CAST(1 AS BIGINT) AS n_versions_after,
           CAST(2 AS BIGINT) AS n_removed,
           CAST(count(*) AS BIGINT) AS n_current,
           CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM cur
    """,
    doc=(
        "Version-retention vacuum exercised end-to-end inside the "
        "correctness gate: three real write_upsert commits retain "
        "three version dirs (keep_versions=3), vacuum_table(keep=1) "
        "removes exactly the two superseded ones and never the "
        "current pointer target, and the surviving current state "
        "matches the latest-writer-wins merge replayed in pure SQL "
        "(batch-3 over batch-2 over the seed). The version counts in "
        "the output come from the REAL directory listing before/after "
        "the vacuum, not from the expected constants."
    ),
)
def upsert_vacuum_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vacuum retention on the versioned-dir table: counts + survivors.

    Scale notes (100 TB): vacuum is pure manifest manipulation — it
    lists version dirs (one listing, no data IO) and removes
    superseded ones; the data verification afterward is one scan of
    the current version only. Retention is how the versioned layout
    bounds storage: without it every MERGE doubles the table."""
    from the_movies_db_spark.io import scratch_dir
    from the_movies_db_spark.upsert import (
        list_versions,
        read_table,
        vacuum_table,
        write_upsert,
    )

    o = load_table(spark, sf_dir, "orders")
    tbl = scratch_dir("vacuumq") + "/orders_tbl"
    b1 = o.filter(F.col("o_orderkey") % 4 != 0).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("price")
    )
    b2 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.round(
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 3 == 0, 1000.0).otherwise(0.0),
            2,
        ).alias("price"),
    )
    b3 = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", F.round(F.col("o_totalprice") + 7.0, 2).alias("price")
    )
    for batch in (b1, b2, b3):
        write_upsert(
            spark, tbl, batch, "o_orderkey",
            order_col=None, keep_versions=3,
        )
    n_before = len(list_versions(tbl))
    removed = vacuum_table(tbl, keep=1)
    n_after = len(list_versions(tbl))
    cur = read_table(spark, tbl)
    return cur.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_current"),
        F.expr(
            "CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT)"
        ).alias("total_cents"),
    ).select(
        F.lit(n_before).cast("bigint").alias("n_versions_before"),
        F.lit(n_after).cast("bigint").alias("n_versions_after"),
        F.lit(len(removed)).cast("bigint").alias("n_removed"),
        "n_current",
        "total_cents",
    )


@register(
    "upsert_conditional_merge",
    """
    WITH t AS (
      SELECT o_orderkey, o_orderstatus AS status,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 3 != 0
    ),
    b AS (
      SELECT o_orderkey, o_orderstatus AS status,
             CAST(round(o_totalprice * 100) AS BIGINT) + 500 AS cents
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    merged AS (
      SELECT coalesce(t.o_orderkey, b.o_orderkey) AS o_orderkey,
             CASE WHEN b.o_orderkey IS NOT NULL AND (t.o_orderkey IS NULL
                       OR (b.cents > t.cents AND b.status <> 'F'))
                  THEN b.status ELSE t.status END AS status,
             CASE WHEN b.o_orderkey IS NOT NULL AND (t.o_orderkey IS NULL
                       OR (b.cents > t.cents AND b.status <> 'F'))
                  THEN b.cents ELSE t.cents END AS cents
      FROM t FULL OUTER JOIN b ON t.o_orderkey = b.o_orderkey
      WHERE NOT (t.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL
                 AND b.status = 'F')
    )
    SELECT status,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM merged
    GROUP BY status
    ORDER BY status
    """,
    doc=(
        "MERGE with CONDITIONAL matched clauses (the Delta/Iceberg "
        "'WHEN MATCHED AND <pred>' surface the plain SCD-1 merge "
        "lacks): matched batch rows with status 'F' DELETE the target "
        "row, matched rows UPDATE only when the price increased, other "
        "matches keep the target, unmatched batch rows INSERT, "
        "unmatched target rows persist — all one full-outer join + one "
        "select (upsert.conditional_merge), verified by a SQL replay "
        "of the clause ladder."
    ),
)
def upsert_conditional_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-clause MERGE, status-grain audit of the result.

    Scale notes (100 TB): one key-equi full-outer join (broadcast the
    batch when it is a delta; AQE handles skew) + one projection —
    the conditional clauses are CASE arms, not extra passes."""
    from the_movies_db_spark.upsert import conditional_merge

    o = load_table(spark, sf_dir, "orders")
    t = o.filter(F.expr("o_orderkey % 3 != 0")).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    b = o.filter(F.expr("o_orderkey % 2 = 0")).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        (F.expr("CAST(round(o_totalprice * 100) AS BIGINT)") + 500)
        .alias("cents"),
    )
    merged = conditional_merge(
        t, b, "o_orderkey",
        matched_delete=F.col("b.status") == "F",
        matched_update=F.col("b.cents") > F.col("t.cents"),
    )
    return (
        merged.groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
        .orderBy("status")
    )


@register(
    "upsert_schema_evolve",
    """
    WITH t AS (
      SELECT o_orderkey, o_orderstatus AS status,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    b AS (
      SELECT o_orderkey, o_orderstatus AS status,
             CAST(round(o_totalprice * 100) AS BIGINT) + 100 AS cents,
             'online' AS channel
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    merged AS (
      SELECT coalesce(t.o_orderkey, b.o_orderkey) AS o_orderkey,
             CASE WHEN b.o_orderkey IS NOT NULL THEN b.cents
                  ELSE t.cents END AS cents,
             CASE WHEN b.o_orderkey IS NOT NULL THEN b.channel END
               AS channel
      FROM t FULL OUTER JOIN b ON t.o_orderkey = b.o_orderkey
    )
    SELECT coalesce(channel, '<null>') AS channel,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM merged
    GROUP BY 1
    ORDER BY 1
    """,
    doc=(
        "MERGE + schema evolution combined (the Delta "
        "mergeSchema-on-MERGE surface): the batch carries a NEW column "
        "(channel) the target lacks; reconcile() widens the target "
        "with typed NULLs mid-merge, matched rows take the batch "
        "values (the price delta makes every match 'changed'), "
        "unmatched target rows keep NULL in the new column. The "
        "channel-grain audit pins exactly which rows carry the evolved "
        "value."
    ),
)
def upsert_schema_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE a batch with a new column into a narrower target.

    Scale notes (100 TB): reconcile() is a metadata-only projection
    (typed NULL literal on the narrow side); the merge itself stays
    one key-equi full-outer join."""
    o = load_table(spark, sf_dir, "orders")
    t = o.filter(F.expr("o_orderkey % 2 = 0")).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    b = o.filter(F.expr("o_orderkey % 3 = 0")).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        (F.expr("CAST(round(o_totalprice * 100) AS BIGINT)") + 100)
        .alias("cents"),
        F.lit("online").alias("channel"),
    )
    merged = merge_upsert(t, b, "o_orderkey", order_col=None)
    return (
        merged.groupBy(
            F.coalesce("channel", F.lit("<null>")).alias("channel")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
        .orderBy("channel")
    )


@register(
    "upsert_merge_preview",
    """
    WITH t AS (
      SELECT o_orderkey, o_orderstatus AS status,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 3 != 0
    ),
    b AS (
      SELECT o_orderkey, o_orderstatus AS status,
             CAST(round(o_totalprice * 100) AS BIGINT)
               + CASE WHEN o_orderkey % 5 = 0 THEN 500 ELSE 0 END AS cents
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    classified AS (
      SELECT CASE
               WHEN t.o_orderkey IS NULL THEN 'insert'
               WHEN b.o_orderkey IS NULL THEN 'keep_target'
               WHEN b.status = 'F' THEN 'delete'
               WHEN b.cents > t.cents THEN 'update'
               ELSE 'noop_matched' END AS action,
             t.cents AS t_cents, b.cents AS b_cents
      FROM t FULL OUTER JOIN b ON t.o_orderkey = b.o_orderkey
    )
    SELECT action,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE action
                    WHEN 'insert' THEN b_cents
                    WHEN 'delete' THEN -t_cents
                    WHEN 'update' THEN b_cents - t_cents
                    ELSE 0 END) AS BIGINT) AS cents_delta
    FROM classified
    GROUP BY action ORDER BY action
    """,
    doc=(
        "MERGE dry-run preview (upsert.merge_preview): classify every "
        "would-be decision of the conditional MERGE — insert / delete "
        "/ update / matched-noop / untouched-target — with the exact "
        "money delta each class would apply, WITHOUT writing. The "
        "pre-flight you run before an irreversible upsert: a clause "
        "predicate that would delete half the table shows up here as "
        "a row count, not as an outage. Costs exactly one merge-shaped "
        "full-outer join."
    ),
)
def upsert_merge_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dry-run classification + impact delta of a conditional MERGE.

    Scale notes (100 TB): identical plan shape to the real MERGE (one
    key full-outer join, broadcast when the batch is a delta); the
    preview aggregate collapses to |actions| rows, and nothing is
    written."""
    o = load_table(spark, sf_dir, "orders")
    t = o.filter(F.expr("o_orderkey % 3 != 0")).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    b = o.filter(F.expr("o_orderkey % 2 = 0")).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.expr(
            "CAST(round(o_totalprice * 100) AS BIGINT)"
            " + CASE WHEN o_orderkey % 5 = 0 THEN 500 ELSE 0 END"
        ).alias("cents"),
    )
    prev = merge_preview(
        t, b, "o_orderkey",
        matched_delete=F.col("b.status") == "F",
        matched_update=F.col("b.cents") > F.col("t.cents"),
    )
    return (
        prev.groupBy("action")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.expr(
                "CAST(sum(CASE action"
                " WHEN 'insert' THEN b_cents"
                " WHEN 'delete' THEN -t_cents"
                " WHEN 'update' THEN b_cents - t_cents"
                " ELSE 0 END) AS BIGINT)"
            ).alias("cents_delta"),
        )
        .orderBy("action")
    )


# ---------------------------------------------------------------------------
# Write-Audit-Publish (the lakehouse WAP pattern)
# ---------------------------------------------------------------------------


@register(
    "upsert_write_audit_publish",
    """
    WITH staged AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 97 = 0
                  THEN -CAST(round(o_totalprice * 100) AS BIGINT)
                  ELSE CAST(round(o_totalprice * 100) AS BIGINT)
             END AS cents
      FROM orders WHERE o_orderkey % 1000 < 200
    )
    SELECT FALSE AS audit_passed,
           CAST(count(*) AS BIGINT) AS n_staged,
           CAST(sum(CASE WHEN cents <= 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_quarantined,
           CAST(sum(CASE WHEN cents > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_published,
           CAST(sum(CASE WHEN cents > 0 THEN cents ELSE 0 END) AS BIGINT)
             AS published_cents
    FROM staged
    """,
    doc=(
        "Write-Audit-Publish — the Iceberg-style safe-publish pattern "
        "on the versioned-table layout: a batch (with deliberately "
        "corrupted rows, every 97th order's cents negated) is STAGED as "
        "an uncommitted version directory while readers keep seeing the "
        "old table; the audit reads back the staged FILES (exactly the "
        "bytes that would ship), quarantines violations to a sidecar, "
        "publishes a cleaned version via the atomic _CURRENT pointer "
        "rename, and the final published table is re-read from disk and "
        "aggregated — so the driver hash pins the staging, audit, "
        "quarantine AND publish legs end-to-end against a pure-SQL "
        "replay of the same pipeline."
    ),
)
def upsert_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAP round-trip through the real versioned writer.

    Scale notes (100 TB): staging is one parquet write, the audit is a
    scan of the staged files only, publish is an O(1) pointer rename —
    no table rewrite; a failed audit never touches the live pointer."""
    import os

    from the_movies_db_spark.io import scratch_dir
    from the_movies_db_spark.upsert import read_table, write_audit_publish

    o = load_table(spark, sf_dir, "orders")
    batch = o.filter("o_orderkey % 1000 < 200").select(
        "o_orderkey",
        F.expr(
            "CASE WHEN o_orderkey % 97 = 0"
            " THEN -CAST(round(o_totalprice * 100) AS BIGINT)"
            " ELSE CAST(round(o_totalprice * 100) AS BIGINT) END"
        ).alias("cents"),
    )
    root = os.path.join(scratch_dir("wap"), "table")
    res = write_audit_publish(spark, batch, root, "cents <= 0")
    pub = read_table(spark, root)
    return (
        pub.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_published"),
            F.sum("cents").cast("bigint").alias("published_cents"),
        )
        .select(
            F.lit(res["audit_passed"]).alias("audit_passed"),
            F.lit(res["n_staged"]).cast("bigint").alias("n_staged"),
            F.lit(res["n_bad"]).cast("bigint").alias("n_quarantined"),
            "n_published",
            "published_cents",
        )
    )


@register(
    "upsert_merge_on_read",
    """
    WITH base AS (
      SELECT o_orderkey AS pk,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 4 != 0
    ),
    d1 AS (
      SELECT o_orderkey AS pk,
             CASE WHEN o_orderkey % 7 = 0 THEN 'D' ELSE 'U' END AS op,
             CAST(round(o_totalprice * 100) + 500 AS BIGINT) AS cents,
             o_orderstatus AS status, 1 AS seq
      FROM orders WHERE o_orderkey % 10 = 0 OR o_orderkey % 7 = 0
    ),
    d2 AS (
      SELECT o_orderkey AS pk, 'U' AS op,
             CAST(round(o_totalprice * 100) + 900 AS BIGINT) AS cents,
             o_orderstatus AS status, 2 AS seq
      FROM orders WHERE o_orderkey % 14 = 0
    ),
    latest AS (
      SELECT pk, op, cents, status FROM (
        SELECT *, row_number() OVER (PARTITION BY pk ORDER BY seq DESC)
               AS rn
        FROM (SELECT * FROM d1 UNION ALL SELECT * FROM d2)
      ) WHERE rn = 1
    ),
    merged AS (
      SELECT pk, cents, status FROM base
      WHERE pk NOT IN (SELECT pk FROM latest)
      UNION ALL
      SELECT pk, cents, status FROM latest WHERE op = 'U'
    )
    SELECT status,
           CAST(count(*) AS BIGINT)   AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(min(pk) AS BIGINT)    AS min_pk,
           CAST(max(pk) AS BIGINT)    AS max_pk
    FROM merged GROUP BY 1 ORDER BY 1
    """,
    doc=(
        "Merge-on-read table (Hudi MOR / Iceberg v2 delete-file shape "
        "— the OTHER lakehouse point on the write/read trade-off from "
        "the copy-on-write versioned tables): the base is written "
        "once, two delta logs append O(batch) upserts and deletes as "
        "new versions (one resurrecting previously deleted keys, pinning "
        "latest-op-wins across logs), and read_table folds the current "
        "version's logs into its base through the one MERGE core (the "
        "latest log row per key, a 'D' dropping it). The oracle replays the identical merge in "
        "SQL, so the hash verifies insert/update/delete/resurrect "
        "semantics end to end."
    ),
)
def upsert_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOR write-path (base + delta logs) and read-path merge.

    Scale notes (100 TB): ingest cost is O(delta file) plus one hard
    link per file, with no base rewrite; the scan pays one MERGE of the
    deduped logs (tiny between compactions) into the base;
    io.compact_table commits the merged view as the next version when
    the delta share grows. Base and logs are one ordinary versioned
    table, the ingest-heavy complement to write_upsert's read-optimized
    COW versions."""
    from the_movies_db_spark.io import scratch_dir
    from the_movies_db_spark.upsert import (
        append_mor_delta,
        read_table,
        write_mor_base,
    )

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("pk"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.col("o_orderstatus").alias("status"),
    )
    root = scratch_dir("mor")
    write_mor_base(o.filter("pk % 4 != 0"), root)
    d1 = o.filter("pk % 10 = 0 OR pk % 7 = 0").select(
        "pk",
        F.expr("CASE WHEN pk % 7 = 0 THEN 'D' ELSE 'U' END").alias("__op"),
        (F.col("cents") + 500).alias("cents"),
        "status",
    )
    append_mor_delta(spark, root, d1, "pk")
    d2 = o.filter("pk % 14 = 0").select(
        "pk",
        F.lit("U").alias("__op"),
        (F.col("cents") + 900).alias("cents"),
        "status",
    )
    append_mor_delta(spark, root, d2, "pk")
    merged = read_table(spark, root)
    return (
        merged.groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
            F.min("pk").cast("bigint").alias("min_pk"),
            F.max("pk").cast("bigint").alias("max_pk"),
        )
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# Positional deletes (Iceberg-v2-style deletion vectors) — round 13
# ---------------------------------------------------------------------------

_PD_ROWS_PER_FILE = 1000


@register(
    "upsert_positional_deletes",
    f"""
    WITH base AS (
      SELECT o_orderkey AS pk,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS BIGINT)
               AS rn
      FROM orders
    ), placed AS (
      SELECT pk, cents,
             rn // {_PD_ROWS_PER_FILE} AS file_id,
             rn % {_PD_ROWS_PER_FILE} AS pos
      FROM base
    ), deletes AS (
      SELECT file_id, pos FROM placed WHERE pk % 7 = 0
      UNION ALL
      SELECT file_id, pos FROM placed WHERE pk % 11 = 0
    ), dv AS (
      SELECT file_id, pos // 32 AS w,
             CAST(bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS BIGINT)
               AS bits
      FROM (SELECT DISTINCT file_id, pos FROM deletes) d
      GROUP BY 1, 2
    ), joined AS (
      SELECT p.file_id, p.cents,
             CASE WHEN v.bits IS NOT NULL
                   AND (v.bits >> CAST(p.pos % 32 AS INT)) % 2 = 1
                  THEN 1 ELSE 0 END AS deleted
      FROM placed p
      LEFT JOIN dv v ON p.file_id = v.file_id AND p.pos // 32 = v.w
    )
    SELECT file_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(deleted) AS BIGINT) AS n_deleted,
           CAST(count(*) - sum(deleted) AS BIGINT) AS n_live,
           CAST(sum(CASE WHEN deleted = 0 THEN cents ELSE 0 END)
                AS BIGINT) AS live_cents
    FROM joined GROUP BY 1 ORDER BY 1
    """,
    doc=(
        "Positional deletes — the OTHER lakehouse delete encoding "
        "(Iceberg v2 delete files / Delta deletion vectors), "
        "complementing the repo's key-based MOR logs: rows are "
        "addressed by (file_id, row_position), two delete batches "
        "fold into per-(file, word) 32-bit BITMAP deletion vectors "
        "(bit_or — idempotent under re-delete, the word discipline "
        "that never shifts the sign bit), and the reader is one "
        "(file, word)-keyed LEFT join + a bit test, touching no key "
        "columns. Census per file: rows, deleted, live, live money."
    ),
)
def upsert_positional_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector build + positional anti-filter read, per file.

    Scale notes (100 TB): the DV table is delete-grain (32 positions
    per word), joined on (file, word) — broadcastable until deletes
    are a large fraction of the table, at which point compaction (the
    MOR path) takes over; the reader never shuffles the base beyond
    the rank assignment, which a real table gets for free from its
    file layout. bit_or makes replayed delete batches idempotent."""
    from the_movies_db_spark.operators.ranks import global_row_number

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("bigint").alias("pk"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    placed = global_row_number(o, "pk", [], out="__rn").select(
        "pk",
        "cents",
        F.expr(f"(__rn - 1) div {_PD_ROWS_PER_FILE}").alias("file_id"),
        F.expr(f"(__rn - 1) % {_PD_ROWS_PER_FILE}").alias("pos"),
    ).localCheckpoint(eager=False)  # base read + two delete batches
    deletes = (
        placed.filter(F.expr("pk % 7 = 0"))
        .select("file_id", "pos")
        .unionByName(
            placed.filter(F.expr("pk % 11 = 0")).select("file_id", "pos")
        )
        .distinct()
    )
    dv = deletes.groupBy(
        F.col("file_id").alias("__dv_file"),
        F.expr("pos div 32").alias("w"),
    ).agg(
        F.expr(
            "CAST(bit_or(shiftleft(1L, CAST(pos % 32 AS INT))) AS BIGINT)"
        ).alias("bits")
    )
    joined = placed.join(
        dv,
        (F.col("file_id") == F.col("__dv_file"))
        & (F.expr("pos div 32") == F.col("w")),
        "left_outer",
    ).select(
        "file_id",
        "cents",
        F.expr(
            "CASE WHEN bits IS NOT NULL"
            " AND (bits >> CAST(pos % 32 AS INT)) % 2 = 1"
            " THEN 1 ELSE 0 END"
        ).alias("deleted"),
    )
    return (
        joined.groupBy("file_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("deleted").cast("bigint").alias("n_deleted"),
            F.expr("CAST(count(*) - sum(deleted) AS BIGINT)").alias(
                "n_live"
            ),
            F.expr(
                "CAST(sum(CASE WHEN deleted = 0 THEN cents ELSE 0 END)"
                " AS BIGINT)"
            ).alias("live_cents"),
        )
        .orderBy("file_id")
    )


# ---------------------------------------------------------------------------
# Equality deletes (Iceberg-v2-style, sequence-number scoped) — round 13
# ---------------------------------------------------------------------------


@register(
    "upsert_equality_deletes",
    """
    WITH o AS (
      SELECT o_orderkey AS pk, o_orderstatus AS status,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), data AS (
      SELECT pk, status, cents, 1 AS seq FROM o
      UNION ALL
      SELECT pk, status, cents * 110 // 100, 2 FROM o WHERE pk % 5 = 0
      UNION ALL
      SELECT pk, status, cents * 120 // 100, 4 FROM o WHERE pk % 21 = 0
    ), d1 AS (
      SELECT DISTINCT pk, 3 AS del_seq FROM o WHERE pk % 7 = 0
    ), flagged AS (
      SELECT d.status, d.cents, d.seq,
             CASE WHEN d1.pk IS NOT NULL AND d.seq < d1.del_seq
                  THEN 1 ELSE 0 END AS killed_pk,
             CASE WHEN d.status = 'F' AND d.seq < 5
                   AND NOT (d1.pk IS NOT NULL AND d.seq < d1.del_seq)
                  THEN 1 ELSE 0 END AS killed_status,
             CASE WHEN d1.pk IS NOT NULL THEN 1 ELSE 0 END AS pk_match
      FROM data d LEFT JOIN d1 ON d.pk = d1.pk
    )
    SELECT status,
           CAST(count(*) AS BIGINT) AS n_versions,
           CAST(sum(CASE WHEN killed_pk = 0 AND killed_status = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
           CAST(sum(CASE WHEN killed_pk = 0 AND killed_status = 0
                         THEN cents ELSE 0 END) AS BIGINT) AS live_cents,
           CAST(sum(killed_pk) AS BIGINT) AS n_killed_eq_pk,
           CAST(sum(killed_status) AS BIGINT) AS n_killed_eq_status,
           CAST(sum(CASE WHEN killed_pk = 0 AND killed_status = 0
                          AND pk_match = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
    FROM flagged GROUP BY 1 ORDER BY 1
    """,
    doc=(
        "Equality deletes — the THIRD lakehouse delete encoding "
        "(Iceberg v2 equality delete files), completing positional "
        "deletes and key-based MOR logs: a delete file carries COLUMN "
        "VALUES (here one file keyed on pk, one on a NON-key column, "
        "status='F') and applies only to rows whose data sequence "
        "number is LOWER than the delete's. The crux pinned here: "
        "rows re-inserted AFTER a matching delete survive it "
        "(n_resurrected > 0 — seq-4 re-inserts outlive the seq-3 pk "
        "delete), while the later status delete still reaps them. "
        "Attribution is first-matching-delete by sequence order."
    ),
)
def upsert_equality_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality-delete application with sequence-number scoping.

    Scale notes (100 TB): delete application is ONE left join keyed on
    the delete file's equality columns — AQE sizes the join (delete
    files are usually tiny and auto-broadcast; a pathological bulk
    delete degrades to a shuffle join, never a driver collect). The
    value-predicate delete (status) folds into a codegen projection.
    The union re-reads the pushed-projection base scan; no branch
    carries more than (pk, status, cents)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("bigint").alias("pk"),
        F.col("o_orderstatus").alias("status"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    data = (
        o.select("pk", "status", "cents", F.lit(1).alias("seq"))
        .unionByName(
            o.filter("pk % 5 = 0").select(
                "pk",
                "status",
                F.expr("cents * 110 div 100").alias("cents"),
                F.lit(2).alias("seq"),
            )
        )
        .unionByName(
            o.filter("pk % 21 = 0").select(
                "pk",
                "status",
                F.expr("cents * 120 div 100").alias("cents"),
                F.lit(4).alias("seq"),
            )
        )
    )
    d1 = (
        o.filter("pk % 7 = 0")
        .select(F.col("pk").alias("__dpk"))
        .distinct()
        .withColumn("del_seq", F.lit(3))
    )
    flagged = data.join(d1, data["pk"] == d1["__dpk"], "left_outer").select(
        "status",
        "cents",
        F.expr(
            "CASE WHEN __dpk IS NOT NULL AND seq < del_seq"
            " THEN 1 ELSE 0 END"
        ).alias("killed_pk"),
        F.expr(
            "CASE WHEN status = 'F' AND seq < 5"
            " AND NOT (__dpk IS NOT NULL AND seq < del_seq)"
            " THEN 1 ELSE 0 END"
        ).alias("killed_status"),
        F.expr("CASE WHEN __dpk IS NOT NULL THEN 1 ELSE 0 END").alias(
            "pk_match"
        ),
    )
    return (
        flagged.groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_versions"),
            F.expr(
                "sum(CASE WHEN killed_pk = 0 AND killed_status = 0"
                " THEN 1 ELSE 0 END)"
            )
            .cast("bigint")
            .alias("n_live"),
            F.expr(
                "sum(CASE WHEN killed_pk = 0 AND killed_status = 0"
                " THEN cents ELSE 0 END)"
            )
            .cast("bigint")
            .alias("live_cents"),
            F.sum("killed_pk").cast("bigint").alias("n_killed_eq_pk"),
            F.sum("killed_status").cast("bigint").alias("n_killed_eq_status"),
            F.expr(
                "sum(CASE WHEN killed_pk = 0 AND killed_status = 0"
                " AND pk_match = 1 THEN 1 ELSE 0 END)"
            )
            .cast("bigint")
            .alias("n_resurrected"),
        )
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# Table branches: branch / diverge / three-way merge — round 13
# ---------------------------------------------------------------------------


@register(
    "upsert_table_branches",
    """
    WITH o AS (
      SELECT o_orderkey AS pk, o_orderstatus AS status,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), final AS (
      -- three-way merge replay: branch-wins on conflicts, both sides'
      -- non-conflicting changes land, base rows persist
      SELECT pk, status,
             CASE WHEN pk % 5 = 0 THEN cents + 1555          -- branch update
                  WHEN pk % 3 = 0 THEN cents + 777           -- main update
                  ELSE cents END AS cents
      FROM o WHERE pk % 4 = 1
      UNION ALL
      SELECT pk, status, cents FROM o WHERE pk % 4 = 2       -- main insert
      UNION ALL
      SELECT pk, status, cents + 1555 FROM o
      WHERE pk % 4 = 3                                       -- branch insert
    ), stats AS (
      SELECT CAST((SELECT count(*) FROM o
                   WHERE (pk % 4 = 1 AND pk % 5 = 0) OR pk % 4 = 3)
                  AS BIGINT) AS n_branch_changes,
             CAST((SELECT count(*) FROM o
                   WHERE (pk % 4 = 1 AND pk % 3 = 0) OR pk % 4 = 2)
                  AS BIGINT) AS n_main_changes,
             CAST((SELECT count(*) FROM o
                   WHERE pk % 4 = 1 AND pk % 15 = 0)
                  AS BIGINT) AS n_conflicts
    )
    SELECT f.status,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(f.cents) AS BIGINT) AS cents,
           s.n_branch_changes, s.n_main_changes, s.n_conflicts
    FROM final f CROSS JOIN stats s
    GROUP BY 1, 4, 5, 6 ORDER BY 1
    """,
    doc=(
        "Nessie-style table branches over the versioned-dir layout: "
        "branch_create hard-links main's current version as the "
        "branch's first version and fork snapshot (no data copy), "
        "main and branch then diverge (updates + inserts on "
        "each side, including deliberate conflicts pk%15==0), and "
        "merge_branch runs a THREE-WAY merge (changed-vs-base on each "
        "side, branch-wins conflicts, both sides' non-conflicting "
        "changes land) committed as a new main version under the "
        "writer lease. Census of the merged table + the merge stats; "
        "the oracle replays the whole lifecycle relationally."
    ),
)
def upsert_table_branches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """branch -> diverge -> three-way merge lifecycle census.

    Scale notes (100 TB): branching is O(files) hard links (no data is
    copied) — the branch's first version and its fork snapshot; the
    merge's changed-sets are keyed left-joins against the fork snapshot
    (no full-table diff materialization beyond the changed rows, which
    are lazily checkpointed for the stats + merge branches)."""
    from the_movies_db_spark.io import scratch_dir
    from the_movies_db_spark.upsert import (
        branch_create,
        merge_branch,
        read_table,
        write_upsert,
        write_upsert_branch,
    )

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("bigint").alias("pk"),
        F.col("o_orderstatus").alias("status"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    root = scratch_dir("branches")
    write_upsert(spark, root, o.filter("pk % 4 = 1"), "pk", order_col=None)
    branch_create(root, "feature")
    main_batch = (
        o.filter("pk % 4 = 1 AND pk % 3 = 0")
        .select("pk", "status", (F.col("cents") + 777).alias("cents"))
        .unionByName(o.filter("pk % 4 = 2").select("pk", "status", "cents"))
    )
    write_upsert(spark, root, main_batch, "pk", order_col=None)
    branch_batch = (
        o.filter("pk % 4 = 1 AND pk % 5 = 0")
        .select("pk", "status", (F.col("cents") + 1555).alias("cents"))
        .unionByName(
            o.filter("pk % 4 = 3").select(
                "pk", "status", (F.col("cents") + 1555).alias("cents")
            )
        )
    )
    write_upsert_branch(spark, root, "feature", branch_batch, "pk")
    stats = merge_branch(spark, root, "feature", "pk")
    return (
        read_table(spark, root)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .select(
            "status",
            "n_rows",
            "cents",
            F.lit(stats["n_branch_changes"]).cast("bigint").alias(
                "n_branch_changes"
            ),
            F.lit(stats["n_main_changes"]).cast("bigint").alias(
                "n_main_changes"
            ),
            F.lit(stats["n_conflicts"]).cast("bigint").alias("n_conflicts"),
        )
        .orderBy("status")
    )
