"""Unit tests for the MERGE engine (SURVEY §5: insert-only, update-only,
mixed, no-op suppression via null-safe compare, dup-in-batch keep-latest,
and the materialized write path)."""

from __future__ import annotations

import datetime as dt

import pytest

from the_movies_db_spark.upsert import (
    changed_predicate,
    keep_latest,
    merge_upsert,
    with_audit_column,
    write_upsert,
)

SCHEMA = "id long, val string, record_loaded_at timestamp"
T0 = dt.datetime(2024, 1, 1)
T1 = dt.datetime(2024, 1, 2)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _as_map(df):
    return {r.id: r for r in df.collect()}


def test_insert_only(spark):
    target = _df(spark, [(1, "a", T0)])
    batch = _df(spark, [(2, "b", T1)])
    out = _as_map(merge_upsert(target, batch, "id"))
    assert set(out) == {1, 2}
    assert out[2].val == "b"


def test_update_only(spark):
    target = _df(spark, [(1, "a", T0)])
    batch = _df(spark, [(1, "A", T1)])
    out = _as_map(merge_upsert(target, batch, "id"))
    assert out[1].val == "A"
    assert out[1].record_loaded_at == T1


def test_noop_keeps_target_row_and_audit(spark):
    target = _df(spark, [(1, "a", T0)])
    batch = _df(spark, [(1, "a", T1)])  # same value, newer audit
    out = _as_map(merge_upsert(target, batch, "id"))
    # change detection excludes the audit column → no-op → old audit kept
    assert out[1].record_loaded_at == T0


def test_null_safe_change_detection(spark):
    target = _df(spark, [(1, None, T0), (2, "x", T0), (3, None, T0)])
    batch = _df(spark, [(1, "now-set", T1), (2, None, T1), (3, None, T1)])
    out = _as_map(merge_upsert(target, batch, "id"))
    assert out[1].val == "now-set" and out[1].record_loaded_at == T1  # NULL→value
    assert out[2].val is None and out[2].record_loaded_at == T1  # value→NULL
    assert out[3].val is None and out[3].record_loaded_at == T0  # NULL=NULL no-op


def test_mixed_and_target_retention(spark):
    target = _df(spark, [(1, "a", T0), (2, "b", T0)])
    batch = _df(spark, [(2, "B", T1), (3, "c", T1)])
    out = _as_map(merge_upsert(target, batch, "id"))
    assert out[1].val == "a" and out[2].val == "B" and out[3].val == "c"


def test_in_batch_duplicates_keep_latest(spark):
    target = _df(spark, [(1, "a", T0)])
    batch = _df(spark, [(1, "older", T0), (1, "newer", T1)])
    out = _as_map(merge_upsert(target, batch, "id"))
    assert out[1].val == "newer"


def test_keep_latest_composite_key(spark):
    df = spark.createDataFrame(
        [(1, "x", "v1", T0), (1, "x", "v2", T1), (1, "y", "w1", T0)],
        "k1 long, k2 string, val string, record_loaded_at timestamp",
    )
    out = keep_latest(df, ["k1", "k2"], "record_loaded_at")
    vals = {(r.k1, r.k2): r.val for r in out.collect()}
    assert vals == {(1, "x"): "v2", (1, "y"): "w1"}


def test_changed_predicate_excludes_audit(spark):
    t = _df(spark, [(1, "a", T0)]).alias("t")
    b = _df(spark, [(1, "a", T1)]).alias("b")
    joined = t.join(b, "id")
    n = joined.filter(
        changed_predicate([f for f in t.schema if f.name != "id"])
    ).count()
    assert n == 0


def test_conditional_merge_with_changed_predicate_on_map_column(spark):
    """The public change test is the SQL one, so a conditional MERGE
    over a MAP column updates the changed row and keeps the equal one
    (a null-safe ``<=>`` on a map fails analysis)."""
    from the_movies_db_spark.upsert import conditional_merge

    schema = "id long, m map<string,bigint>"
    target = spark.createDataFrame([(1, {"a": 1}), (2, {"x": 1})], schema)
    batch = spark.createDataFrame([(1, {"a": 1}), (2, {"x": 5})], schema)
    out = conditional_merge(
        target, batch, "id",
        matched_update=changed_predicate([target.schema["m"]]),
    )
    assert sorted((r.id, r.m) for r in out.collect()) == [
        (1, {"a": 1}), (2, {"x": 5}),
    ]


def test_with_audit_column(spark):
    df = spark.createDataFrame([(1,)], "id long")
    out = with_audit_column(df)
    assert "record_loaded_at" in out.columns
    assert out.first().record_loaded_at is not None


def test_write_upsert_roundtrip(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_upsert(spark, path, _df(spark, [(1, "a", T0), (2, "b", T0)]), "id")
    write_upsert(spark, path, _df(spark, [(2, "B", T1), (3, "c", T1)]), "id")
    from the_movies_db_spark.upsert import read_table

    out = _as_map(read_table(spark, path))
    assert {k: v.val for k, v in out.items()} == {1: "a", 2: "B", 3: "c"}


def test_merge_upsert_schema_evolution_inline(spark):
    target = spark.createDataFrame([(1, "a")], "id long, val string")
    batch = spark.createDataFrame(
        [(1, "a", 9.5), (2, "b", 1.0)], "id long, val string, score double"
    )
    out = merge_upsert(target, batch, "id", order_col=None)
    rows = _as_map(out)
    assert set(out.columns) == {"id", "val", "score"}
    # row 1: score differs (NULL vs 9.5) → batch wins
    assert rows[1].score == 9.5 and rows[2].score == 1.0


@pytest.mark.parametrize("n", [0])
def test_empty_batch_is_identity(spark, n):
    target = _df(spark, [(1, "a", T0)])
    batch = _df(spark, []).limit(n)
    out = _as_map(merge_upsert(target, batch, "id"))
    assert out[1].val == "a"


def _partition_inodes(data_dir):
    import os

    return {
        d: {f: os.stat(os.path.join(data_dir, d, f)).st_ino
            for f in os.listdir(os.path.join(data_dir, d))}
        for d in os.listdir(data_dir) if d.startswith("day=")
    }


def test_write_upsert_partitioned_prunes(spark, tmp_path, monkeypatch):
    import re

    import the_movies_db_spark.upsert as U

    path = str(tmp_path / "ptbl")
    base = spark.createDataFrame(
        [(1, "a", "2024-01-01", 1), (2, "b", "2024-01-01", 1),
         (3, "c", "2024-01-02", 1), (4, "d", "2024-01-03", 1)],
        "pk long, v string, day string, ver int",
    )
    U.write_upsert_partitioned(spark, path, base, "pk", "day", order_col="ver")
    before = _partition_inodes(U.table_data_path(path))

    # capture the target side the merge reads (the touched partitions)
    merged_targets = []
    real_merge = U.merge_upsert
    monkeypatch.setattr(
        U, "merge_upsert",
        lambda t, *a, **k: merged_targets.append(t) or real_merge(t, *a, **k),
    )
    # batch touches only 2024-01-01: update pk=2, insert pk=5
    batch = spark.createDataFrame(
        [(2, "B2", "2024-01-01", 2), (5, "e", "2024-01-01", 2)],
        "pk long, v string, day string, ver int",
    )
    touched = U.write_upsert_partitioned(
        spark, path, batch, "pk", "day", order_col="ver"
    )
    assert touched == ["2024-01-01"]
    # the touched-partition read is pruned by a partition filter
    plan = merged_targets[0]._jdf.queryExecution().executedPlan().toString()
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "day" in pf and "2024-01-01" in pf

    got = {r.pk: (r.v, str(r.day)) for r in U.read_table(spark, path).collect()}
    assert got == {
        1: ("a", "2024-01-01"), 2: ("B2", "2024-01-01"), 5: ("e", "2024-01-01"),
        3: ("c", "2024-01-02"), 4: ("d", "2024-01-03"),
    }
    # untouched partitions were not rewritten: every file of the new
    # version is the previous version's file (same inode, hard link)
    after = _partition_inodes(U.table_data_path(path))
    assert after["day=2024-01-02"] == before["day=2024-01-02"]
    assert after["day=2024-01-03"] == before["day=2024-01-03"]
    assert not set(after["day=2024-01-01"]) & set(before["day=2024-01-01"])
    assert U.list_versions(path) == [U._current_version(path)]


def test_partitioned_upsert_crash_before_flip_keeps_previous_version(
    spark, tmp_path
):
    """The partitioned upsert commits through the shared commit tail: a
    crash after the new version is staged but before the pointer flip
    leaves the previous version current, readable and unchanged."""
    import the_movies_db_spark.upsert as U

    path = str(tmp_path / "ptbl")
    base = spark.createDataFrame(
        [(1, "a", "2024-01-01", 1), (2, "b", "2024-01-02", 1)],
        "pk long, v string, day string, ver int",
    )
    U.write_upsert_partitioned(spark, path, base, "pk", "day", order_col="ver")
    before = U._current_version(path)
    rows_before = sorted(tuple(r) for r in U.read_table(spark, path).collect())

    def crash():
        raise RuntimeError("simulated crash before pointer flip")

    batch = spark.createDataFrame(
        [(1, "A", "2024-01-01", 2), (3, "c", "2024-01-03", 2)],
        "pk long, v string, day string, ver int",
    )
    U._before_pointer_flip = crash
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            U.write_upsert_partitioned(
                spark, path, batch, "pk", "day", order_col="ver"
            )
    finally:
        U._before_pointer_flip = None
    assert U._current_version(path) == before
    assert (
        sorted(tuple(r) for r in U.read_table(spark, path).collect())
        == rows_before
    )


def test_partitioned_upsert_on_mor_root_keeps_delta_logs(spark, tmp_path):
    """A partitioned upsert into a merge-on-read version merges its
    folded view: a delta log on a partition the batch does not touch
    survives the upsert."""
    import the_movies_db_spark.upsert as U

    path = str(tmp_path / "ptbl")
    schema = "pk long, v string, d string"
    U.write_upsert_partitioned(
        spark, path, spark.createDataFrame([(1, "a", "d1"), (2, "b", "d2")], schema),
        "pk", "d", order_col=None,
    )
    U.append_mor_delta(
        spark, path,
        spark.createDataFrame([(2, "U", "b2", "d2")], "pk long, __op string, v string, d string"),
        "pk",
    )
    U.write_upsert_partitioned(
        spark, path, spark.createDataFrame([(1, "A", "d1")], schema),
        "pk", "d", order_col=None,
    )
    got = sorted(tuple(r) for r in U.read_table(spark, path).collect())
    assert got == [(1, "A", "d1"), (2, "b2", "d2")]


def test_merge_upsert_empty_batch_is_identity(spark):
    from the_movies_db_spark.upsert import merge_upsert

    t = spark.createDataFrame([(1, "a"), (2, "b")], "pk long, v string")
    empty = spark.createDataFrame([], "pk long, v string")
    out = merge_upsert(t, empty, "pk", order_col=None, audit_col="__none__")
    assert sorted(map(tuple, out.collect())) == [(1, "a"), (2, "b")]


def test_merge_upsert_into_empty_target(spark):
    from the_movies_db_spark.upsert import merge_upsert

    empty = spark.createDataFrame([], "pk long, v string")
    b = spark.createDataFrame([(1, "a")], "pk long, v string")
    out = merge_upsert(empty, b, "pk", order_col=None, audit_col="__none__")
    assert [tuple(r) for r in out.collect()] == [(1, "a")]


def test_scd2_upsert_versions(spark):
    from datetime import datetime

    from the_movies_db_spark.upsert import scd2_upsert

    ts0, ts1 = datetime(2024, 1, 1), datetime(2024, 2, 1)
    target = spark.createDataFrame(
        [(1, "a", ts0, None), (2, "b", ts0, None)],
        "pk long, v string, valid_from timestamp, valid_to timestamp",
    )
    batch = spark.createDataFrame(
        [(1, "A", ts1), (3, "c", ts1)],  # pk1 changes, pk3 is new, pk2 untouched
        "pk long, v string, ts timestamp",
    )
    out = scd2_upsert(target, batch, "pk", "ts")
    rows = {(r.pk, r.v): (r.valid_from, r.valid_to) for r in out.collect()}
    assert rows[(1, "a")] == (ts0, ts1)     # old version closed at batch ts
    assert rows[(1, "A")] == (ts1, None)    # new current version
    assert rows[(2, "b")] == (ts0, None)    # untouched stays open
    assert rows[(3, "c")] == (ts1, None)    # brand-new key
    assert out.count() == 4
    # re-applying the same batch is a no-op (idempotent)
    again = scd2_upsert(out, batch, "pk", "ts")
    assert again.count() == 4


def test_scd2_upsert_without_data_columns(spark):
    """A history table of keys alone (pk, valid_from, valid_to): an
    unseen pk is inserted as current, a seen pk is a no-op."""
    from datetime import datetime

    from the_movies_db_spark.upsert import scd2_upsert

    ts0, ts1 = datetime(2024, 1, 1), datetime(2024, 2, 1)
    target = spark.createDataFrame(
        [(1, ts0, None)], "pk long, valid_from timestamp, valid_to timestamp"
    )
    batch = spark.createDataFrame([(1, ts1), (2, ts1)], "pk long, ts timestamp")
    out = scd2_upsert(target, batch, "pk", "ts")
    assert sorted(map(tuple, out.collect())) == [(1, ts0, None), (2, ts1, None)]


def test_write_upsert_crash_before_commit_keeps_old_version(spark, tmp_path):
    """Manifest-guarded swap: a crash after the new version dir is fully
    written but BEFORE the pointer flip must leave the previous version
    readable, and a retry must converge to the merged state."""
    from the_movies_db_spark import upsert as U

    path = str(tmp_path / "tbl")
    U.write_upsert(spark, path, _df(spark, [(1, "a", T0), (2, "b", T0)]), "id")
    before = {k: v.val for k, v in _as_map(U.read_table(spark, path)).items()}
    assert before == {1: "a", 2: "b"}

    def crash():
        raise RuntimeError("simulated crash before pointer flip")

    U._before_pointer_flip = crash
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            U.write_upsert(spark, path, _df(spark, [(2, "B", T1)]), "id")
    finally:
        U._before_pointer_flip = None

    # table still serves the pre-crash version
    after_crash = {k: v.val for k, v in _as_map(U.read_table(spark, path)).items()}
    assert after_crash == before

    # retry commits; the orphaned version dir from the crash is ignored
    U.write_upsert(spark, path, _df(spark, [(2, "B", T1), (3, "c", T1)]), "id")
    final = {k: v.val for k, v in _as_map(U.read_table(spark, path)).items()}
    assert final == {1: "a", 2: "B", 3: "c"}


def test_crash_before_first_commit_leaves_empty_table(spark, tmp_path):
    """A version staged by a first commit that crashed before the
    pointer flip is not table data: the retry must not merge it in."""
    from the_movies_db_spark import upsert as U

    path = str(tmp_path / "tbl")

    def crash():
        raise RuntimeError("simulated crash before pointer flip")

    U._before_pointer_flip = crash
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            U.write_upsert(spark, path, _df(spark, [(1, "a", T0)]), "id")
    finally:
        U._before_pointer_flip = None
    U.write_upsert(spark, path, _df(spark, [(2, "b", T0)]), "id")
    assert _as_map(U.read_table(spark, path)).keys() == {2}


def test_vacuum_keeps_current_version(spark, tmp_path):
    import os

    from the_movies_db_spark import upsert as U

    path = str(tmp_path / "tbl")
    for i in range(3):
        stamp = T0 + dt.timedelta(days=i)
        U.write_upsert(spark, path, _df(spark, [(1, f"v{i}", stamp)]), "id")
    versions = [d for d in os.listdir(path) if U._VERSION_RE.fullmatch(d)]
    assert versions == [U._current_version(path)]  # keep=1 vacuumed the rest
    assert _as_map(U.read_table(spark, path))[1].val == "v2"


def test_time_travel_reads_and_retention(spark, tmp_path):
    """keep_versions=2 retains the previous version after a second
    commit: version-addressed reads return the OLD data unchanged,
    default reads follow _CURRENT, unknown versions raise, and the
    default retention (1) vacuums history."""
    import pytest

    from the_movies_db_spark.upsert import list_versions, read_table, write_upsert

    tbl = str(tmp_path / "tt")
    v1_rows = [(1, "a"), (2, "b")]
    v2_rows = [(2, "B"), (3, "c")]
    df = lambda rows: spark.createDataFrame(rows, "k long, v string")  # noqa: E731
    write_upsert(spark, tbl, df(v1_rows), "k", order_col=None, keep_versions=2)
    write_upsert(spark, tbl, df(v2_rows), "k", order_col=None, keep_versions=2)
    versions = list_versions(tbl)
    assert len(versions) == 2
    old = {(r.k, r.v) for r in read_table(spark, tbl, version=versions[0]).collect()}
    cur = {(r.k, r.v) for r in read_table(spark, tbl).collect()}
    assert old == set(v1_rows)
    assert cur == {(1, "a"), (2, "B"), (3, "c")}
    with pytest.raises(FileNotFoundError):
        read_table(spark, tbl, version="v99999999")
    # default retention: third commit with keep_versions=1 drops history
    write_upsert(spark, tbl, df([(4, "d")]), "k", order_col=None)
    assert len(list_versions(tbl)) == 1


# --- single-writer lease (concurrent-writer contract) ----------------------


def test_writer_lock_excludes_concurrent_writer(spark, tmp_path):
    import the_movies_db_spark.upsert as U

    root = str(tmp_path / "tbl")
    write_upsert(spark, root, _df(spark, [(1, "a", T0)]), "id")
    before = U._current_version(root)
    with U.writer_lock(root):
        with pytest.raises(U.WriterLockError):
            write_upsert(spark, root, _df(spark, [(2, "b", T1)]), "id")
    # pointer untouched and still valid
    assert U._current_version(root) == before
    assert _as_map(U.read_table(spark, root)).keys() == {1}


def test_writer_lock_stale_lease_is_stolen(spark, tmp_path):
    """A holder that crashed (lease file left behind, past its lease)
    must not wedge the table forever: the next writer steals the lease
    CAS-style and commits."""
    import os

    import the_movies_db_spark.upsert as U

    root = str(tmp_path / "tbl")
    write_upsert(spark, root, _df(spark, [(1, "a", T0)]), "id")
    lock = os.path.join(root, U.WRITER_LOCK)
    with open(lock, "w") as fh:  # simulated crashed holder
        fh.write("99999 0\n")
    os.utime(lock, (0, 0))  # ancient mtime -> stale
    write_upsert(spark, root, _df(spark, [(2, "b", T1)]), "id")
    assert _as_map(U.read_table(spark, root)).keys() == {1, 2}
    assert not os.path.exists(lock)


def test_writer_lock_stolen_lease_survives_old_holder_release(tmp_path):
    """A holder whose lease expired and was stolen must not delete the
    new holder's lease when it finally releases: the table stays
    locked until the new holder is done."""
    import os

    import the_movies_db_spark.upsert as U

    root = str(tmp_path / "tbl")
    lock = os.path.join(root, U.WRITER_LOCK)
    old, new = U.writer_lock(root), U.writer_lock(root)
    old.__enter__()
    os.utime(lock, (0, 0))  # the old holder outlives its lease
    new.__enter__()  # ... and the next writer steals it
    old.__exit__(None, None, None)
    assert os.path.exists(lock)
    with pytest.raises(U.WriterLockError):
        with U.writer_lock(root):
            pass
    new.__exit__(None, None, None)
    assert not os.path.exists(lock)


def test_racing_writers_serialize_without_lost_update(spark, tmp_path):
    """Two writers racing with lock_wait > 0 must SERIALIZE: both
    batches land (no lost update), _CURRENT always points at a
    complete readable version (no torn pointer)."""
    import threading

    import the_movies_db_spark.upsert as U

    root = str(tmp_path / "tbl")
    write_upsert(spark, root, _df(spark, [(0, "base", T0)]), "id")
    errors: list[Exception] = []

    def writer(i: int) -> None:
        try:
            write_upsert(
                spark, root,
                _df(spark, [(i, f"w{i}", T1)]), "id",
                keep_versions=10, lock_wait=60.0,
            )
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(i,)) for i in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert _as_map(U.read_table(spark, root)).keys() == {0, 1, 2}
    # pointer names a complete, readable version dir
    cur = U._current_version(root)
    assert cur in U.list_versions(root)


def test_crash_mid_write_leaves_valid_pointer_and_stale_lease_recovers(
    spark, tmp_path
):
    """Full crash-injection cycle: writer dies between data write and
    pointer flip (lease held at death, since a real crash cannot run
    the release) -> table still reads the old version; a later writer
    steals the expired lease and commits normally."""
    import os

    import the_movies_db_spark.upsert as U

    root = str(tmp_path / "tbl")
    write_upsert(spark, root, _df(spark, [(1, "a", T0)]), "id")
    before = U._current_version(root)

    class Died(RuntimeError):
        pass

    def crash():
        # re-create the lease as a crashed process would leave it: the
        # exception path releases it, so pin a copy back afterwards
        raise Died()

    U._before_pointer_flip = crash
    try:
        with pytest.raises(Died):
            write_upsert(spark, root, _df(spark, [(2, "b", T1)]), "id")
    finally:
        U._before_pointer_flip = None
    # old version still current and readable
    assert U._current_version(root) == before
    assert _as_map(U.read_table(spark, root)).keys() == {1}
    # simulate the lease the dead process would have left, already stale
    lock = os.path.join(root, U.WRITER_LOCK)
    with open(lock, "w") as fh:
        fh.write("dead 0\n")
    os.utime(lock, (0, 0))
    write_upsert(spark, root, _df(spark, [(3, "c", T1)]), "id")
    assert _as_map(U.read_table(spark, root)).keys() == {1, 3}


def test_delete_keys_on_partitioned_table(spark, tmp_path):
    """delete_keys on a write_upsert_partitioned table: the rows go,
    the new version is still partitioned by ``day``, and the previous
    version still returns them while retained."""
    import os

    import the_movies_db_spark.upsert as U

    path = str(tmp_path / "ptbl")
    base = spark.createDataFrame(
        [(1, "a", "2024-01-01", 1), (2, "b", "2024-01-02", 1),
         (3, "c", "2024-01-01", 1)],
        "pk long, v string, day string, ver int",
    )
    U.write_upsert_partitioned(spark, path, base, "pk", "day", order_col="ver")
    prev = U._current_version(path)
    doomed = spark.createDataFrame([(1,)], "pk long")
    assert U.delete_keys(spark, path, doomed, "pk", keep_versions=2) == 1
    assert {r.pk for r in U.read_table(spark, path).collect()} == {2, 3}
    data = U.table_data_path(path)
    assert sorted(
        d for d in os.listdir(data) if not d.startswith(("_", "."))
    ) == ["day=2024-01-01", "day=2024-01-02"]
    assert {r.pk for r in U.read_table(spark, path, version=prev).collect()} == {
        1, 2, 3,
    }


def test_write_audit_publish_null_predicate_quarantines(spark, tmp_path):
    """A NULL audit predicate must quarantine the row, never silently
    drop it: quarantine takes `pred IS NOT FALSE`, publish takes the
    exact complement, and n_published counts the published files."""
    from the_movies_db_spark import upsert as U
    from the_movies_db_spark.upsert import write_audit_publish

    root = str(tmp_path / "wap")
    df = spark.createDataFrame(
        [(1, 100), (2, -5), (3, None)], "id long, cents long"
    )
    res = write_audit_publish(spark, df, root, "cents <= 0")
    assert res["n_staged"] == 3
    # id=2 (bad) AND id=3 (NULL predicate) are quarantined
    assert res["n_bad"] == 2
    assert res["n_published"] == 1
    assert not res["audit_passed"]
    published = {r.id for r in U.read_table(spark, root).collect()}
    assert published == {1}
    qdir = f"{root}/_quarantine/{res['staged_version']}"
    quarantined = {r.id for r in spark.read.parquet(qdir).collect()}
    assert quarantined == {2, 3}


def test_write_audit_publish_vacuums_to_published_version(spark, tmp_path):
    """Each publish is a commit: staged and superseded versions are
    vacuumed, the quarantine sidecar stays."""
    import os

    from the_movies_db_spark import upsert as U

    root = str(tmp_path / "wap")
    ok = spark.createDataFrame([(1, 100), (2, 200)], "id long, cents long")
    assert U.write_audit_publish(spark, ok, root, "cents <= 0")["audit_passed"]
    bad = spark.createDataFrame([(1, 100), (2, -5)], "id long, cents long")
    res = U.write_audit_publish(spark, bad, root, "cents <= 0")
    assert not res["audit_passed"]
    assert U.list_versions(root) == [res["published_version"]]
    assert {r.id for r in U.read_table(spark, root).collect()} == {1}
    assert os.path.isdir(
        os.path.join(root, "_quarantine", res["staged_version"])
    )


def test_merge_on_read_lifecycle(spark, tmp_path):
    """MOR: O(delta) appends, latest-op-wins reads (delete, update,
    insert, resurrect), compaction folds logs and preserves the view."""
    import os

    import the_movies_db_spark.upsert as U
    from the_movies_db_spark.io import compact_table
    from the_movies_db_spark.upsert import (
        append_mor_delta,
        read_table,
        write_mor_base,
    )

    def rows():
        return {tuple(r) for r in read_table(spark, root).collect()}

    root = str(tmp_path / "mor")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "pk long, v string"
    )
    write_mor_base(base, root)
    assert rows() == {(1, "a"), (2, "b"), (3, "c")}
    # delta 1: update 1, delete 2, insert 4; deleting the absent 5
    # inserts nothing
    d1 = spark.createDataFrame(
        [(1, "U", "a2"), (2, "D", None), (4, "U", "d"), (5, "D", None)],
        "pk long, __op string, v string",
    ).select("pk", "__op", "v")
    append_mor_delta(spark, root, d1, "pk")
    assert rows() == {(1, "a2"), (3, "c"), (4, "d")}
    # delta 2: resurrect 2, delete 4 — latest seq wins over delta 1
    d2 = spark.createDataFrame(
        [(2, "U", "b2"), (4, "D", None)], "pk long, __op string, v string"
    )
    append_mor_delta(spark, root, d2, "pk")
    expected = {(1, "a2"), (2, "b2"), (3, "c")}
    assert rows() == expected
    # the logs fold on the key the first append recorded
    with pytest.raises(ValueError, match="another key"):
        append_mor_delta(spark, root, d2, "v")
    assert rows() == expected
    # compaction folds both logs into a version without any; the merged
    # view is unchanged
    compact_table(spark, root)
    assert not os.path.exists(os.path.join(U.table_data_path(root), U._DELTAS))
    assert rows() == expected


def test_merge_on_read_null_key_matches_null_key(spark, tmp_path):
    """A NULL key is a key in a merge-on-read fold too: the log's
    NULL-key row replaces the base's, as ``write_upsert`` would."""
    from the_movies_db_spark.upsert import append_mor_delta, read_table, write_mor_base

    root = str(tmp_path / "mor")
    write_mor_base(
        spark.createDataFrame([(None, "a"), (1, "x")], "pk long, v string"), root
    )
    append_mor_delta(
        spark, root,
        spark.createDataFrame([(None, "U", "b")], "pk long, __op string, v string"),
        "pk",
    )
    got = [tuple(r) for r in read_table(spark, root).collect()]
    assert sorted(got, key=str) == sorted([(1, "x"), (None, "b")], key=str)


def test_copy_on_write_writers_keep_merge_on_read_logs(spark, tmp_path):
    """A copy-on-write writer on a merge-on-read root rewrites the
    merged view: ``delete_keys`` of an absent key keeps the logged row,
    and ``io.compact_table`` folds the logs away with the rows intact."""
    import os

    import the_movies_db_spark.upsert as U
    from the_movies_db_spark.io import compact_table

    root = str(tmp_path / "mor")
    U.write_mor_base(
        spark.createDataFrame([(1, "a"), (2, "b")], "pk long, v string"), root
    )
    U.append_mor_delta(
        spark, root,
        spark.createDataFrame(
            [(1, "U", "a1"), (2, "D", None)], "pk long, __op string, v string"
        ),
        "pk",
    )

    def rows():
        return sorted(map(tuple, U.read_table(spark, root).collect()))

    assert rows() == [(1, "a1")]
    U.delete_keys(spark, root, spark.createDataFrame([(99,)], "pk long"), "pk")
    assert rows() == [(1, "a1")]
    U.append_mor_delta(
        spark, root,
        spark.createDataFrame([(3, "U", "c")], "pk long, __op string, v string"),
        "pk",
    )
    compact_table(spark, root)
    assert not os.path.exists(os.path.join(U.table_data_path(root), U._DELTAS))
    assert rows() == [(1, "a1"), (3, "c")]


# ---------------------------------------------------------------- branches


def test_branch_lifecycle_three_way_merge(spark, tmp_path):
    """Planted lifecycle: the branch's first version hard-links main's
    fork version, main vacuums the fork while the branch still reads
    it, divergent writes, branch-wins three-way merge with exact
    hand-computed final state and stats, branch consumed."""
    import os

    from the_movies_db_spark import upsert as U

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "pk long, s string, v long"
    )
    U.write_upsert(spark, root, df, "pk", order_col=None)
    fork = U.branch_create(root, "dev")
    # the branch's first version is main's fork version, hard-linked:
    # every file shares its inode
    broot = os.path.join(root, "_branches", "dev")
    first = U.table_data_path(broot)
    main_dir = os.path.join(root, fork)
    names = [
        os.path.relpath(os.path.join(d, f), first)
        for d, _, fs in os.walk(first) for f in fs
    ]
    assert names
    for n in names:
        assert os.stat(os.path.join(first, n)).st_ino == os.stat(
            os.path.join(main_dir, n)
        ).st_ino
    assert sorted(
        (r.pk, r.s, r.v) for r in U.read_branch(spark, root, "dev").collect()
    ) == [(1, "a", 10), (2, "b", 20), (3, "c", 30)]
    # main diverges: update pk=1 (conflict-to-be), insert pk=4
    U.write_upsert(
        spark, root,
        spark.createDataFrame([(1, "a", 11), (4, "d", 40)],
                              "pk long, s string, v long"),
        "pk", order_col=None,
    )
    # main's vacuum (keep=1) retired the fork version; the branch's
    # links keep its rows readable
    assert fork not in U.list_versions(root)
    assert sorted(
        (r.pk, r.s, r.v) for r in U.read_branch(spark, root, "dev").collect()
    ) == [(1, "a", 10), (2, "b", 20), (3, "c", 30)]
    # branch diverges: update pk=1 (conflict) + pk=2, insert pk=5
    U.write_upsert_branch(
        spark, root, "dev",
        spark.createDataFrame([(1, "a", 111), (2, "b", 222), (5, "e", 50)],
                              "pk long, s string, v long"),
        "pk",
    )
    stats = U.merge_branch(spark, root, "dev", "pk")
    assert stats["n_branch_changes"] == 3  # pk 1, 2, 5
    assert stats["n_main_changes"] == 2    # pk 1, 4
    assert stats["n_conflicts"] == 1       # pk 1
    got = sorted(
        (r.pk, r.s, r.v) for r in U.read_table(spark, root).collect()
    )
    assert got == [
        (1, "a", 111),  # conflict: branch wins
        (2, "b", 222),  # branch update
        (3, "c", 30),   # base row persists
        (4, "d", 40),   # main insert survives the merge
        (5, "e", 50),   # branch insert
    ]
    assert U.list_branches(root) == []  # consumed
    assert not os.path.exists(broot)  # with its files


def test_branch_merge_error_policy(spark, tmp_path):
    import pytest as _pytest

    from the_movies_db_spark import upsert as U

    root = str(tmp_path / "t2")
    U.write_upsert(
        spark, root,
        spark.createDataFrame([(1, 10)], "pk long, v long"),
        "pk", order_col=None,
    )
    U.branch_create(root, "dev")
    U.write_upsert(
        spark, root, spark.createDataFrame([(1, 11)], "pk long, v long"),
        "pk", order_col=None,
    )
    U.write_upsert_branch(
        spark, root, "dev",
        spark.createDataFrame([(1, 12)], "pk long, v long"), "pk",
    )
    with _pytest.raises(ValueError, match="1 conflicts"):
        U.merge_branch(spark, root, "dev", "pk", on_conflict="error")
    # branch untouched by the failed merge
    assert U.list_branches(root) == ["dev"]


def test_compact_table_takes_writer_lease(spark, tmp_path):
    """Compacting a versioned table is a commit: it must take the
    writer lease, so a held lease raises instead of letting the
    compaction commit over (and drop) a concurrent writer's version."""
    import the_movies_db_spark.upsert as U
    from the_movies_db_spark.io import compact_table

    root = str(tmp_path / "tbl")
    write_upsert(spark, root, _df(spark, [(1, "a", T0), (2, "b", T0)]), "id")
    before = U._current_version(root)
    with U.writer_lock(root):
        with pytest.raises(U.WriterLockError):
            compact_table(spark, root)
    assert U._current_version(root) == before
    assert _as_map(U.read_table(spark, root)).keys() == {1, 2}


def test_flat_parquet_root_is_refused(spark, tmp_path):
    """A flat-Parquet root (plain ``df.write.parquet`` output, no
    pointer) is not a table: every reader and writer of the upsert
    layer raises ``ValueError`` naming the root and leaves its files
    in place."""
    import os
    import re

    import the_movies_db_spark.upsert as U
    from the_movies_db_spark.io import compact_table

    root = str(tmp_path / "flat")
    df = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d2")], "id long, val string, day string"
    )
    df.write.parquet(root)
    files = sorted(os.listdir(root))
    calls = {
        "write_upsert": lambda: U.write_upsert(spark, root, df, "id", order_col=None),
        "write_upsert_partitioned": lambda: U.write_upsert_partitioned(
            spark, root, df, "id", "day", order_col=None
        ),
        "delete_keys": lambda: U.delete_keys(spark, root, df, "id"),
        "read_table": lambda: U.read_table(spark, root),
        "compact_table": lambda: compact_table(spark, root),
    }
    for name, call in calls.items():
        with pytest.raises(ValueError, match=re.escape(root)):
            call()
        assert sorted(os.listdir(root)) == files, name


# ------------------------------------------------- NULL keys and predicates

NK = "id long, val string, n long"


def test_merge_upsert_null_key_matches_null_key(spark):
    """A NULL key is a key: the batch's NULL-key row replaces the
    target's NULL-key row (the join is null-safe, so is presence)."""
    target = spark.createDataFrame([(None, "nk", 5), (1, "a", 1)], NK)
    batch = spark.createDataFrame([(None, "nk2", 7)], NK)
    out = merge_upsert(target, batch, "id", order_col=None)
    assert sorted(map(tuple, out.collect()), key=str) == [
        (1, "a", 1), (None, "nk2", 7),
    ]


def test_merge_upsert_inserts_unmatched_null_key_row(spark):
    target = spark.createDataFrame([(1, "a", 1)], NK)
    batch = spark.createDataFrame([(None, "x", 8)], NK)
    out = merge_upsert(target, batch, "id", order_col=None)
    assert sorted(map(tuple, out.collect()), key=str) == [
        (1, "a", 1), (None, "x", 8),
    ]


def test_branch_upsert_writes_null_first_key_row(spark, tmp_path):
    from the_movies_db_spark import upsert as U

    root = str(tmp_path / "t")
    schema = "pk long, pk2 string, v string"
    U.write_upsert(
        spark, root, spark.createDataFrame([(1, "a", "x")], schema),
        ["pk", "pk2"], order_col=None,
    )
    U.branch_create(root, "dev")
    U.write_upsert_branch(
        spark, root, "dev", spark.createDataFrame([(None, "q", "new")], schema),
        ["pk", "pk2"],
    )
    got = sorted(map(tuple, U.read_branch(spark, root, "dev").collect()), key=str)
    assert got == [(1, "a", "x"), (None, "q", "new")]


def test_null_delete_predicate_keeps_row_in_merge_and_preview(spark):
    """A clause fires only when its predicate is TRUE: a NULL
    ``matched_delete`` neither deletes nor updates, in the MERGE and in
    its dry run alike."""
    from pyspark.sql import functions as F

    from the_movies_db_spark.upsert import conditional_merge, merge_preview

    target = spark.createDataFrame([(3, "x"), (4, "y")], "id long, val string")
    batch = spark.createDataFrame([(3, None), (4, "D")], "id long, val string")
    delete = F.col("b.val") == "D"
    out = conditional_merge(target, batch, "id", matched_delete=delete)
    assert [tuple(r) for r in out.collect()] == [(3, "x")]
    preview = merge_preview(target, batch, "id", matched_delete=delete)
    assert {r.t_id: r.action for r in preview.collect()} == {
        3: "noop_matched", 4: "delete",
    }


# ------------------------------------------------------ plan-building cost


def _py4j_commands(monkeypatch, fn) -> int:
    """Py4J commands ``fn`` sends, object releases (whose number depends
    on Python garbage collection) excluded."""
    from py4j import protocol
    from py4j.clientserver import ClientServerConnection

    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    sent = []
    real = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith(release):
            sent.append(command)
        return real(self, command, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counting)
        fn()
    return len(sent)


def _movies_table(spark, root):
    """A one-version movies table as the CDC workload keeps it."""
    from pyspark.sql.types import DateType, StructField, StructType, TimestampType

    from the_movies_db_spark.sources.rest_api import MOVIE_SCHEMA
    from the_movies_db_spark.upsert import read_table

    schema = StructType([
        *(StructField(f.name, DateType()) if f.name == "release_date" else f
          for f in MOVIE_SCHEMA.fields),
        StructField("record_loaded_at", TimestampType()),
    ])
    rows = [
        (i, f"t{i}", f"o{i}", "en", "...", dt.date(2020, 1, 1), [1, 2],
         1.5, 7.0, i, False, False, "/p", "/b", T0)
        for i in range(1, 41)
    ]
    write_upsert(spark, root, spark.createDataFrame(rows, schema), "id")
    return read_table(spark, root), schema, rows


@pytest.mark.parametrize("shape", ["cdc", "etl_drift"])
def test_merge_plan_takes_a_handful_of_jvm_calls(spark, tmp_path, monkeypatch, shape):
    """``merge_upsert`` + its optimised plan is one SQL statement, not
    an expression-by-expression build: under 100 Py4J commands on a
    CDC-shaped batch and on one with an added and a type-changed column."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    target, schema, rows = _movies_table(spark, str(tmp_path / "movies"))
    batch_rows = [(*r[:-1], T1) for r in rows[:10]]
    if shape == "etl_drift":
        schema = StructType([
            StructField(f.name, StringType()) if f.name == "vote_count" else f
            for f in schema.fields
        ] + [StructField("keywords", ArrayType(StringType()))])
        batch_rows = [
            (*r[:9], str(r[9]), *r[10:], ["k"]) for r in batch_rows
        ]
    batch = spark.createDataFrame(batch_rows, schema)

    def build():
        merge_upsert(target, batch, "id")._jdf.queryExecution().optimizedPlan()

    assert _py4j_commands(monkeypatch, build) < 100


# ------------------------------------------------------- schema records


def test_read_table_schema_equals_inferred_schema(spark, tmp_path):
    """A version read through its schema record has exactly the schema
    (nullability included) that inferring it from the files gives, runs
    no Spark job, and a drift-evolved version keeps that property; so do
    a partitioned version, a merge-on-read version after an append
    (its merged view) and a branch head."""
    import os

    from pyspark.sql.types import (
        ArrayType, DateType, IntegerType, LongType, MapType, StringType,
        StructField, StructType, TimestampNTZType, TimestampType,
    )

    from the_movies_db_spark import upsert as U

    schema = StructType([
        StructField("k1", LongType(), False),
        StructField("k2", StringType(), False),
        StructField("tags", ArrayType(IntegerType(), False), False),
        StructField("d", DateType()),
        StructField("ts", TimestampType()),
        StructField("ntz", TimestampNTZType()),
        StructField("s", StructType([
            StructField("a", IntegerType(), False),
            StructField("b", ArrayType(StringType())),
        ])),
    ])
    row = (1, "x", [1, 2], dt.date(2024, 1, 1), T0, T0, (1, ["z"]))
    root = str(tmp_path / "t")

    def assert_recorded(root):
        data = U.table_data_path(root)
        assert os.path.exists(os.path.join(data, U._SCHEMA_RECORD))
        sc = spark.sparkContext
        sc.setJobGroup("read_table_schema", "read through the record")
        try:
            got = U.read_table(spark, root).schema
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup("read_table_schema") == []
        assert got == spark.read.parquet(data).schema

    U.write_upsert(
        spark, root, spark.createDataFrame([row], schema), ["k1", "k2"],
        order_col=None,
    )
    assert_recorded(root)
    # drift: an added column and a type-changed one
    drifted = StructType([
        StructField("d", StringType()) if f.name == "d" else f
        for f in U.read_table(spark, root).schema
    ] + [StructField("extra", ArrayType(StringType()))])
    U.write_upsert(
        spark, root,
        spark.createDataFrame([(2, "y", [3], "2024-02-01", T1, T1, None, ["e"])],
                              drifted),
        ["k1", "k2"], order_col=None,
    )
    assert_recorded(root)
    assert {"extra", "d_string"} <= set(U.read_table(spark, root).columns)
    assert U.read_table(spark, root).count() == 2
    # a map with non-null values
    maps = str(tmp_path / "maps")
    U.write_upsert(
        spark, maps,
        spark.createDataFrame(
            [(1, {"a": 1})],
            StructType([
                StructField("id", LongType(), False),
                StructField("m", MapType(StringType(), LongType(), False)),
            ]),
        ),
        "id",
    )
    assert_recorded(maps)
    # a partitioned version
    parted = str(tmp_path / "parted")
    U.write_upsert_partitioned(
        spark, parted,
        spark.createDataFrame([(1, "a", 3), (2, "b", 4)], "pk long, v string, p int"),
        "pk", "p", order_col=None,
    )
    assert_recorded(parted)
    # a merge-on-read version after one append: its merged view
    mor = str(tmp_path / "mor")
    U.write_mor_base(spark.createDataFrame([(1, "a")], "pk long, v string"), mor)
    U.append_mor_delta(
        spark, mor,
        spark.createDataFrame([(1, "U", "b")], "pk long, __op string, v string"),
        "pk",
    )
    assert os.path.isdir(os.path.join(U.table_data_path(mor), U._DELTAS))
    assert_recorded(mor)
    # a branch head
    U.branch_create(root, "dev")
    assert_recorded(os.path.join(root, "_branches", "dev"))


# ------------------------------------------------- partitions, drift, maps


def test_partitioned_upsert_keeps_string_partition_values(spark, tmp_path):
    """A zero-padded string partition value reads back as the string it
    was written as, not as the int inferred from its directory name, so
    the next partitioned upsert replaces its row instead of writing a
    second copy beside it."""
    from pyspark.sql.types import StringType

    from the_movies_db_spark import upsert as U

    root = str(tmp_path / "ptbl")
    schema = "pk long, v string, month string"
    for rows in ([(1, "a", "01"), (2, "b", "06")], [(1, "A", "01")]):
        U.write_upsert_partitioned(
            spark, root, spark.createDataFrame(rows, schema), "pk", "month",
            order_col=None,
        )
    got = U.read_table(spark, root)
    assert sorted(map(tuple, got.collect())) == [(1, "A", "01"), (2, "b", "06")]
    assert got.schema["month"].dataType == StringType()


def test_upsert_with_nested_non_null_types_adds_no_drift_columns(spark, tmp_path):
    """A batch built with the schema the table was written from merges
    into the original columns: non-null array elements and struct
    fields are not a type change against the all-nullable read."""
    from pyspark.sql.types import (
        ArrayType, IntegerType, LongType, StructField, StructType, TimestampType,
    )

    from the_movies_db_spark.upsert import read_table

    schema = StructType([
        StructField("id", LongType(), False),
        StructField("tags", ArrayType(IntegerType(), False)),
        StructField("s", StructType([StructField("a", IntegerType(), False)])),
        StructField("record_loaded_at", TimestampType()),
    ])
    root = str(tmp_path / "t")
    write_upsert(
        spark, root, spark.createDataFrame([(1, [1], (1,), T0), (2, [2], (2,), T0)], schema),
        "id",
    )
    write_upsert(spark, root, spark.createDataFrame([(1, [1, 9], (5,), T1)], schema), "id")
    out = read_table(spark, root)
    assert out.columns == ["id", "tags", "s", "record_loaded_at"]
    assert sorted((r.id, r.tags, r.s.a, r.record_loaded_at) for r in out.collect()) == [
        (1, [1, 9], 5, T1), (2, [2], 2, T0),
    ]


def test_upsert_merges_map_column(spark, tmp_path):
    """A map column merges: a changed map updates its row; an equal map
    with its keys in another order is a no-op, so the row keeps its
    audit timestamp."""
    from the_movies_db_spark.upsert import read_table

    root = str(tmp_path / "t")

    def batch(ts, m1, m2):
        # SQL map literals fix each map's key order
        return spark.createDataFrame(
            [(1, ts), (2, ts)], "id long, record_loaded_at timestamp"
        ).selectExpr("id", f"CASE id WHEN 1 THEN {m1} ELSE {m2} END AS m", "record_loaded_at")

    write_upsert(spark, root, batch(T0, "map('a', 1L, 'b', 2L)", "map('x', 1L)"), "id")
    write_upsert(spark, root, batch(T1, "map('b', 2L, 'a', 1L)", "map('x', 5L)"), "id")
    got = {r.id: (r.m, r.record_loaded_at) for r in read_table(spark, root).collect()}
    assert got == {1: ({"a": 1, "b": 2}, T0), 2: ({"x": 5}, T1)}
