"""Property-based tests (hypothesis) for the non-standard semantics:
upsert/MERGE invariants and schema-drift reconciliation, over randomly
generated batches rather than hand-picked cases (SURVEY §5)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

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
)
from the_movies_db_spark.upsert import merge_upsert

ROW_SCHEMA = "pk long, v string, n double, ord long"

rows = st.lists(
    st.tuples(
        st.integers(0, 9),  # pk: small domain → frequent collisions
        st.sampled_from(["a", "b", "c", None]),
        st.sampled_from([1.0, 2.5, None]),
        st.integers(0, 100),  # ord: keep-latest tie-break input
    ),
    min_size=0,
    max_size=12,
)

SET = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _df(spark, data):
    return spark.createDataFrame(data, ROW_SCHEMA)


@given(target=rows, batch=rows)
@SET
def test_upsert_row_invariants(spark, target, batch):
    # dedupe target pks first (a target table is pk-unique by construction)
    tgt = list({r[0]: r for r in target}.values())
    t = _df(spark, tgt)
    b = _df(spark, batch)
    merged = merge_upsert(t, b, "pk", order_col="ord", audit_col="__none__")
    got = {r.pk: r for r in merged.collect()}

    batch_pks = {r[0] for r in batch}
    tgt_pks = {r[0] for r in tgt}
    # 1. pk-uniqueness is preserved
    assert len(got) == len(tgt_pks | batch_pks)
    # 2. unmatched target rows persist unchanged
    for r in tgt:
        if r[0] not in batch_pks:
            assert (got[r[0]].v, got[r[0]].n, got[r[0]].ord) == (r[1], r[2], r[3])
    # 3. every batch pk exists afterwards
    assert batch_pks <= set(got)
    # 4. for batch-only pks, the surviving row is the max-ord batch row's ord
    for pk in batch_pks - tgt_pks:
        max_ord = max(r[3] for r in batch if r[0] == pk)
        assert got[pk].ord == max_ord


@given(batch=rows)
@SET
def test_upsert_idempotent(spark, batch):
    # upserting the merged result into itself changes nothing
    tgt = list({r[0]: r for r in batch}.values())
    t = _df(spark, tgt)
    merged = merge_upsert(t, t, "pk", order_col="ord", audit_col="__none__")
    a = sorted(map(tuple, merged.collect()))
    b = sorted(map(tuple, t.collect()))
    assert a == b


names = st.sampled_from(["a", "b", "c", "d", "e"])
types_ = st.sampled_from([LongType(), StringType(), DoubleType()])
schemas = st.dictionaries(names, types_, min_size=1, max_size=5)


@given(dest=schemas, incoming=schemas)
@SET
def test_drift_detection_properties(spark, dest, incoming):
    dest_t = StructType([StructField(n, t) for n, t in sorted(dest.items())])
    inc_t = StructType([StructField(n, t) for n, t in sorted(incoming.items())])
    drift = check_schema_drift(inc_t, dest_t)

    added = {f.name for f in drift.columns_to_add}
    modified = {m.name for m in drift.modified_cols}
    # added ⊆ incoming-only; modified ⊆ shared with a type change
    assert added == set(incoming) - set(dest)
    assert modified == {
        n for n in set(incoming) & set(dest)
        if incoming[n].simpleString() != dest[n].simpleString()
    }

    evolved = evolve_schema(dest_t, drift)
    evolved_names = {f.name for f in evolved.fields}
    # evolution never drops or retypes an existing destination column
    for f in dest_t.fields:
        assert evolved[f.name].dataType == f.dataType
    # every modified column got its suffixed sibling
    for m in drift.modified_cols:
        assert m.renamed_to in evolved_names


doc_texts = st.lists(
    st.text(alphabet="ab c", min_size=1, max_size=30), min_size=2, max_size=8
)


@given(texts=doc_texts)
@SET
def test_minhash_pair_properties(spark, texts):
    from the_movies_db_spark.operators.dedup import minhash_lsh_dedup_pairs

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    pairs = minhash_lsh_dedup_pairs(
        docs, "doc_id", "text", threshold=0.0, num_hashes=4, num_bands=2
    ).collect()
    for r in pairs:
        assert r.id_a < r.id_b            # canonical orientation
        assert 0.0 <= r.jaccard <= 1.0    # jaccard is a proper ratio
    # an exact duplicate ALWAYS surfaces with jaccard 1.0 (all bands equal)
    dup = spark.createDataFrame(
        [(0, texts[0]), (1, texts[0])], "doc_id long, text string"
    )
    got = minhash_lsh_dedup_pairs(
        dup, "doc_id", "text", threshold=0.0, num_hashes=4, num_bands=2
    ).collect()
    assert len(got) == 1 and got[0].jaccard == 1.0


# --- round-5 operator properties (vs brute-force python references) --------

intervals = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),       # user
        st.integers(min_value=0, max_value=100_000), # start (us)
        st.integers(min_value=1, max_value=50_000),  # length (us)
    ),
    min_size=1,
    max_size=40,
)


@given(iv=intervals)
@SET
def test_interval_merge_islands_match_bruteforce_union(spark, iv):
    """Gaps-and-islands covered time == brute-force interval union."""
    rows = [
        (u, i, s, s + ln) for i, (u, s, ln) in enumerate(iv)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, s_us long, e_us long"
    )
    from pyspark.sql import Window

    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # both windows must share one total order, or a tie on s_us is
    # flagged in one order and numbered in the other
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("s_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = df.withColumn("__pmax", F.max("e_us").over(w_prev)).withColumn(
        "f",
        F.when(F.col("__pmax").isNull() | (F.col("s_us") > F.col("__pmax")), 1)
        .otherwise(0),
    )
    spans = (
        flagged.withColumn("span", F.sum("f").over(w_cum))
        .groupBy("user_id", "span")
        .agg((F.max("e_us") - F.min("s_us")).alias("len"))
        .groupBy("user_id")
        .agg(F.sum("len").alias("covered"))
    )
    got = {r.user_id: r.covered for r in spans.collect()}
    # brute force: merge sorted intervals per user
    expect = {}
    per_user = {}
    for u, s, ln in iv:
        per_user.setdefault(u, []).append((s, s + ln))
    for u, ivs in per_user.items():
        ivs.sort()
        tot, cs, ce = 0, None, None
        for s, e in ivs:
            if cs is None:
                cs, ce = s, e
            elif s > ce:
                tot += ce - cs
                cs, ce = s, e
            else:
                ce = max(ce, e)
        tot += ce - cs
        expect[u] = tot
    assert got == expect


@given(iv=intervals)
@SET
def test_peak_concurrency_two_level_matches_sweep(spark, iv):
    """Bucketed prefix-sum peak == brute-force global sweep line
    (boundary-inclusive: starts sort before ends at equal time)."""
    rows = [(s, s + ln) for (_, s, ln) in iv]
    df = spark.createDataFrame(rows, "s_us long, e_us long")
    deltas = df.select(F.col("s_us").alias("t"), F.lit(1).alias("d")).unionAll(
        df.select(F.col("e_us").alias("t"), F.lit(-1).alias("d"))
    )
    b = deltas.withColumn("bucket", F.expr("t div 10000"))
    bs = sorted(
        (int(r["bucket"]), int(r["bd"]))
        for r in b.groupBy("bucket").agg(F.sum("d").alias("bd")).collect()
    )
    acc, carry_rows = 0, []
    for k, v in bs:
        carry_rows.append((k, acc))
        acc += v
    carry = spark.createDataFrame(carry_rows, "bucket long, carry long")
    from pyspark.sql import Window

    w_in = (
        Window.partitionBy("bucket")
        .orderBy(F.col("t").asc(), F.col("d").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    peak = (
        b.join(F.broadcast(carry), "bucket")
        .select((F.col("carry") + F.sum("d").over(w_in)).alias("conc"))
        .agg(F.max("conc"))
        .collect()[0][0]
    )
    # brute force sweep: +1 events first at equal timestamp
    evs = sorted(
        [(s, 0) for s, _ in rows] + [(e, 1) for _, e in rows]
    )
    cur = best = 0
    for _, kind in evs:
        cur += 1 if kind == 0 else -1
        best = max(best, cur)
    assert int(peak) == best


@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=10_000), min_size=2, max_size=50
    )
)
@SET
def test_gini_divmod_chain_is_exact(spark, vals):
    """The six-stage *10 divmod chain == exact Fraction arithmetic."""
    from fractions import Fraction

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "custkey long, dollars long")
    from the_movies_db_spark.operators.ranks import global_row_number

    if sum(vals) == 0:
        return  # degenerate: no revenue, den = 0
    b = df.agg(F.min("dollars").alias("mn"), F.max("dollars").alias("mx")).collect()[0]
    ranked = global_row_number(
        df, "dollars", ["custkey"], out="rnk",
        bounds=(int(b["mn"]), int(b["mx"])),
    )
    cur = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dollars").alias("s"),
        F.sum(F.col("rnk") * F.col("dollars")).alias("s1"),
    ).select(
        "n", "s",
        F.expr("CAST(2 * s1 - (n + 1) * s AS BIGINT)").alias("r0"),
        F.expr("CAST(n * s AS BIGINT)").alias("den"),
    )
    for i in range(1, 7):
        cur = cur.select(
            "*",
            F.expr(f"r{i-1} * 10 div den").alias(f"q{i}"),
            F.expr(f"r{i-1} * 10 % den").alias(f"r{i}"),
        )
    got = cur.select(
        F.expr(
            "q1 * 100000 + q2 * 10000 + q3 * 1000 + q4 * 100 + q5 * 10 + q6"
        ).alias("ppm")
    ).collect()[0]["ppm"]
    # exact reference with rational arithmetic
    xs = sorted(vals)
    n, s = len(xs), sum(xs)
    s1 = sum((i + 1) * x for i, x in enumerate(xs))
    expect = int(Fraction((2 * s1 - (n + 1) * s) * 1_000_000, n * s))
    assert int(got) == expect
