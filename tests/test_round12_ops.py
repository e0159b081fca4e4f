"""Third-leg tests for round-12 operators: independent Python
re-derivations and crafted inputs (the oracle pins Spark == DuckDB on
the shared formula; these pin the formula itself)."""

from __future__ import annotations

import datetime as dt
import glob
import shutil

from pyspark.sql import functions as F

from the_movies_db_spark.queries import load_all

SF_DIR = "/root/testdata/sf0.001"


def test_skyline_equals_bruteforce_dominance(spark):
    """The two-level bucketed sweep must equal the O(n²) dominance
    definition: a point survives iff no other point has >= price and
    <= lag with one strict."""
    q = load_all()["orders_skyline_pareto"]
    got = {(r.price_cents, r.lag_days) for r in q.spark(spark, SF_DIR).collect()}

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    lags = (
        li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("ls"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("x"),
            F.datediff("ls", "o_orderdate").cast("bigint").alias("y"),
        )
    )
    pts = {(r.x, r.y) for r in lags.distinct().collect()}
    brute = {
        (x, y)
        for (x, y) in pts
        if not any(
            (x2 >= x and y2 <= y and (x2 > x or y2 < y))
            for (x2, y2) in pts
        )
    }
    assert got == brute and len(got) > 0


def _write_single(df, work, name):
    tmp = f"{work}/__w"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], f"{work}/{name}.parquet")
    shutil.rmtree(tmp)


def test_delta_encoding_crafted_bit_classes(spark, tmp_path):
    """One series with hand-computed dods hits every Gorilla class:
    seconds [0,10,20,30,31,100,5000] -> deltas [10,10,10,1,69,4900],
    dods [10,0,0,-9,68,4831] -> bits [64,9,1,1,9,12,36] = 132."""
    work = str(tmp_path / "dod")
    t0 = dt.datetime(2024, 3, 1)
    secs = [0, 10, 20, 30, 31, 100, 5000]
    rows = [
        (1, i, "click", t0 + dt.timedelta(seconds=s))
        for i, s in enumerate(secs)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts timestamp_ntz"
    ).withColumn("value", F.lit(1.0))
    _write_single(df, work, "events")
    q = load_all()["events_delta_encoding_audit"]
    r = q.spark(spark, work).collect()[0]
    assert (r.event_type, r.n_series, r.n_events) == ("click", 1, 7)
    assert (r.n_dod0, r.n_dod7, r.n_dod9, r.n_dod12, r.n_dod32) == (
        2, 2, 1, 0, 1,
    )
    assert r.bits_total == 132
    assert r.compression_ppm == 132 * 1_000_000 // (64 * 7)


def test_tar_datasource_partitions_and_unnamed_shards(spark, tmp_path):
    """One input partition per shard file; files not matching
    shard-<id>.tar still parse (shard_id -1)."""
    import io
    import tarfile

    from the_movies_db_spark.sources.tar_datasource import TarShardDataSource

    def tar_bytes(members):
        buf = io.BytesIO()
        with tarfile.open(
            fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
        ) as tf:
            for name, data in members:
                info = tarfile.TarInfo(name=name)
                info.size = len(data)
                info.mtime = 0
                tf.addfile(info, io.BytesIO(data))
        return buf.getvalue()

    d = tmp_path / "shards"
    d.mkdir()
    (d / "shard-3.tar").write_bytes(tar_bytes([("a.txt", b"aaa")]))
    (d / "shard-7.tar").write_bytes(
        tar_bytes([("b.txt", b"bb"), ("c.txt", b"")])
    )
    (d / "legacy.tar").write_bytes(tar_bytes([("z.txt", b"zz")]))
    try:
        spark.dataSource.register(TarShardDataSource)
    except Exception:
        pass
    df = spark.read.format("tar_shards").option("path", str(d)).load()
    assert df.rdd.getNumPartitions() == 3  # one per shard file
    got = {
        (r.shard_id, r.member_name, r.n_bytes, bytes(r.payload), r.cksum_ok)
        for r in df.collect()
    }
    assert got == {
        (3, "a.txt", 3, b"aaa", True),
        (7, "b.txt", 2, b"bb", True),
        (7, "c.txt", 0, b"", True),
        (-1, "z.txt", 2, b"zz", True),
    }


def test_mor_read_after_compact_equals_cow_merge(spark, tmp_path):
    """Property: for any (base, delta) pair, read_table == merge_upsert
    restricted to the same op semantics (U rows upsert, D rows
    delete)."""
    from the_movies_db_spark.upsert import (
        append_mor_delta,
        read_table,
        write_mor_base,
    )

    root = str(tmp_path / "morq")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "pk long, v string"
    )
    write_mor_base(base, root)
    delta = spark.createDataFrame(
        [(i, "D" if i % 3 == 0 else "U", f"u{i}") for i in range(0, 30, 2)],
        "pk long, __op string, v string",
    )
    append_mor_delta(spark, root, delta, "pk")
    got = {(r.pk, r.v) for r in read_table(spark, root).collect()}
    expect = {(i, f"v{i}") for i in range(20)}
    for i in range(0, 30, 2):
        if i % 3 == 0:
            expect.discard((i, f"v{i}"))
        else:
            expect.discard((i, f"v{i}"))
            expect.add((i, f"u{i}"))
    assert got == expect


def test_hilbert_generated_sql_is_bijective_and_adjacent():
    """The staged SQL state machine must equal the canonical xy2d:
    exhaustive bijection + unit-step adjacency on an 8x8 grid via
    DuckDB, plus a sampled check at the production _HIL_BITS order.
    (The first cut reflected with s-1-x instead of N-1-x and silently
    produced a non-bijection — 177 of 256 key buckets populated.)"""
    import duckdb

    from the_movies_db_spark.queries.surface_extra import (
        _HIL_BITS,
        _hilbert_steps,
    )

    def xy2d(order_n, x, y):
        d = 0
        s = order_n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x = order_n - 1 - x
                    y = order_n - 1 - y
                x, y = y, x
            s //= 2
        return d

    def sql_d(con, pts, steps):
        con.execute("DROP TABLE IF EXISTS p")
        con.execute(
            "CREATE TABLE p AS SELECT * FROM (VALUES "
            + ",".join(f"({x},{y})" for x, y in pts)
            + ") t(x,y)"
        )
        inner = "SELECT x AS __hx, y AS __hy, CAST(0 AS BIGINT) AS __hd, x, y FROM p"
        for x1, y1, d in steps:
            inner = (
                f"SELECT {x1} AS __hx, {y1} AS __hy,"
                f" CAST({d} AS BIGINT) AS __hd, x, y FROM ({inner})"
            )
        return con.execute(f"SELECT x, y, __hd FROM ({inner})").fetchall()

    con = duckdb.connect()
    # production order, sampled
    n = 2**_HIL_BITS
    pts = [(x, y) for x in range(0, n, 37) for y in range(0, n, 41)]
    rows = sql_d(con, pts, _hilbert_steps("//"))
    assert all(d == xy2d(n, x, y) for x, y, d in rows)
    # exhaustive 8x8 bijection + adjacency via the reference
    ds = {(x, y): xy2d(8, x, y) for x in range(8) for y in range(8)}
    assert sorted(ds.values()) == list(range(64))
    pos = {d: xy for xy, d in ds.items()}
    assert all(
        abs(pos[d][0] - pos[d + 1][0]) + abs(pos[d][1] - pos[d + 1][1]) == 1
        for d in range(63)
    )


def test_temporal_reachability_scan_budget_and_time_respect(spark):
    """Round-9 gate: multi-branch iterative ops pin their scan budget —
    the returned plan must reference only the final checkpointed state
    (1 ExistingRDD scan, 0 fact scans). Also pins time-respecting
    semantics on a crafted chain: a contact EARLIER than the
    infection time must not propagate."""
    reg = load_all()
    df = reg["graph_temporal_reachability"].spark(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") <= 2
    assert plan.count("events.parquet") == 0
    rows = {r.user_id: r.infected_hour for r in df.collect()}
    assert len(rows) > 0 and min(rows.values()) == 0  # seeds at t=0


def test_temporal_reachability_rejects_backward_paths(spark, tmp_path):
    """Crafted: seed 1 meets 2 at hour 10; 2 met 3 at hour 5 (BEFORE 2
    was infected) and meets 4 at hour 20 (after). 4 reachable, 3 not."""
    import datetime as dt

    work = str(tmp_path / "tr")
    t0 = dt.datetime(1970, 1, 1)
    mk = lambda u, e, h: (u, u * 100 + h, e, t0 + dt.timedelta(hours=h))
    rows = [
        mk(2, "z", 1), mk(3, "z2", 2),    # seeds 2,3: isolated events
        mk(1, "a", 20), mk(4, "a", 20),   # seed 1 infects 4 at h=20
        mk(4, "b", 15), mk(5, "b", 15),   # 4's EARLIER contact: no spread
        mk(4, "c", 25), mk(6, "c", 25),   # 4's later contact: spreads
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts timestamp_ntz"
    ).withColumn("value", F.lit(1.0))
    _write_single(df, work, "events")
    got = {
        r.user_id: r.infected_hour
        for r in load_all()["graph_temporal_reachability"]
        .spark(spark, work)
        .collect()
    }
    # seeds = 3 smallest users (1, 2, 3); 4 infected at 20, its
    # EARLIER contact with 5 must NOT propagate, its later one must
    assert got[4] == 20 and got[6] == 25
    assert 5 not in got
    assert got[1] == 0 and got[2] == 0 and got[3] == 0


def test_mor_intra_batch_ties_resolve_last_row_wins(spark, tmp_path):
    """Two ops for the SAME pk inside one appended batch resolve
    deterministically: __pos (frozen at write time over the single
    coalesced partition) breaks the __seq tie last-row-wins —
    round-12 advice; previously row_number over equal keys was
    nondeterministic."""
    from the_movies_db_spark.upsert import (
        append_mor_delta,
        read_table,
        write_mor_base,
    )

    root = str(tmp_path / "morties")
    write_mor_base(
        spark.createDataFrame([(1, "old")], "pk long, v string"), root
    )
    dup = spark.createDataFrame(
        [(1, "U", "first"), (1, "U", "second"), (1, "D", "third"),
         (1, "U", "last")],
        "pk long, __op string, v string",
    ).coalesce(1)
    append_mor_delta(spark, root, dup, "pk")
    for _ in range(5):  # stable across repeated reads
        got = [(r.pk, r.v) for r in read_table(spark, root).collect()]
        assert got == [(1, "last")]


def test_mor_compact_crash_safety_via_pointer(spark, tmp_path, monkeypatch):
    """Compacting a MOR table (io.compact_table) is crash-safe at every point (round-12 advice: the
    old base-dir rename pair could strand the table with NO base).
    Compaction is one commit, so its one crash window is the pointer
    flip: a crash AFTER the new version is written but BEFORE the flip
    -> reader sees the old version's base + intact deltas (consistent),
    and the next compaction retires the orphan version."""
    import os

    import pytest

    import the_movies_db_spark.upsert as U
    from the_movies_db_spark.io import compact_table
    from the_movies_db_spark.upsert import (
        append_mor_delta,
        list_versions,
        read_table,
        write_mor_base,
    )

    root = str(tmp_path / "morcrash")
    write_mor_base(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(6)], "pk long, v string"
        ),
        root,
    )
    delta = spark.createDataFrame(
        [(0, "D", ""), (1, "U", "u1"), (9, "U", "u9")],
        "pk long, __op string, v string",
    )
    append_mor_delta(spark, root, delta, "pk")
    expect = {(1, "u1"), (9, "u9")} | {(i, f"v{i}") for i in range(2, 6)}

    class Crash(RuntimeError):
        pass

    def crash():
        raise Crash()

    # (a) crash before the pointer flip: an orphan base version exists,
    # the pointer still names the old base, deltas intact
    base = U._current_version(root)
    with monkeypatch.context() as m, pytest.raises(Crash):
        m.setattr(U, "_before_pointer_flip", crash)
        compact_table(spark, root)
    assert U._current_version(root) == base
    assert len(list_versions(root)) == 2
    assert {(r.pk, r.v) for r in read_table(spark, root).collect()} == expect
    # recovery = just run compaction again: retires the orphan, folds
    compact_table(spark, root)
    assert {(r.pk, r.v) for r in read_table(spark, root).collect()} == expect
    assert not os.path.exists(os.path.join(U.table_data_path(root), U._DELTAS))
    assert list_versions(root) == [U._current_version(root)]
