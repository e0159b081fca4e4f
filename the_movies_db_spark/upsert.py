"""Upsert / MERGE engine (SURVEY §2.2 K2/K3 — the reference's loader).

Reference semantics re-expressed as one declarative plan (vs the
reference's stage-to-temp-table → introspect → synthesize MERGE SQL →
execute → drop, /root/reference/utilities/etl.py:88-183):

- **keyed in-batch dedup, keep-latest** (the reference's full-row
  ``drop_duplicates`` at etl.py:143 can't break pk ties; we order by
  ``order_col`` — SURVEY §7 M3);
- **null-safe change detection** (K3): a matched row is replaced only
  if some non-audit column differs null-safely (``<=>``) — parity with
  the ``update_cond`` OR-chain built at etl.py:160-162 / used at
  queries.py:41, which skips no-op updates (so an unchanged row keeps
  its original audit timestamp);
- **insert of unmatched batch rows**, **retention of unmatched target
  rows** — the two MERGE branches at queries.py:42-46.

One MERGE core: every variant is ONE SQL statement from ``_merge`` —
the keep-latest ``row_number()`` dedup, a ``TRUE`` presence marker per
side, the null-safe full-outer join, the action flags as lateral
aliases and a ``CASE WHEN`` per output column — passed to
``spark.sql(text, t=target, b=batch)``, so the plan costs a handful of
JVM calls whatever the column count. A clause fires only when its
predicate is TRUE, as in SQL MERGE. ``changed_predicate`` (SQL text
over ``t``/``b``) is the one change test, and ``_latest_sql`` the one
keep-latest dedup.

Physical shape at 100 TB: one shuffle of each side on ``pk`` for the
full-outer join (AQE handles skew). Spark cannot broadcast either side
of a full outer join, so the whole target is exchanged even when the
batch is small (the common daily-increment case). With a transactional
table format (Delta/Iceberg) this maps to native ``MERGE INTO``.

On plain Parquet every table state this module writes — copy-on-write,
partitioned, merge-on-read (base and delta logs), write-audit-publish,
and every branch — is ONE layout: complete ``vNNNNNNNN`` version
directories behind an atomic ``_CURRENT`` pointer, each carrying its
schema record. Every writer commits through ``rewrite_table`` (or,
when it holds the writer lease itself, ``_write_version`` +
``_commit``): write the new version directory, then flip the pointer
(manifest-guarded swap — a crash at any point leaves the previous
version readable; see the versioned-table section below). Files a new
version shares with the previous one are carried over by one idiom, a
hard-linked copy (``shutil.copytree(src, dst, copy_function=os.link)``):
untouched partitions, the MOR base under a new delta log, a branch's
fork. ``_read_version`` is the one reader of a version: it reads the
base through the schema record and folds a merge-on-read version's
delta logs into it with the same ``_merge``, so every reader and
copy-on-write writer sees the merged view. A root is an empty dir or a
versioned table; anything else (a flat-Parquet dir) is refused. The
layout is private to this module, so swapping in a transactional
format means replacing those functions.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import time
import uuid
from collections.abc import Callable, Sequence
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, LongType, MapType, StringType, StructField, StructType,
)

from the_movies_db_spark.schema_evolution import (
    drift_sources,
    null_sql,
    projection_sql,
)
from the_movies_db_spark.schema_evolution import sql_name as _q

AUDIT_COLUMN = "record_loaded_at"  # parity: etl.py:32,95


def with_audit_column(df: DataFrame, column: str = AUDIT_COLUMN) -> DataFrame:
    """Stamp the load-time audit column (reference P1, etl.py:32,95)."""
    return df.withColumn(column, F.current_timestamp())


def _key_list(pk: str | Sequence[str]) -> list[str]:
    return [pk] if isinstance(pk, str) else list(pk)


def _merge(
    target: DataFrame,
    batch: DataFrame,
    keys: Sequence[str],
    *outputs: tuple[str, str | None],
    update: str | Column | None = None,
    delete: Column | None = None,
    order: Sequence[str] = (),
    projections: tuple[str, str] = ("*", "*"),
) -> DataFrame:
    """THE MERGE core, as one SQL statement: the null-safe full-outer
    join of ``target`` (``t``, projected by ``projections[0]``) and
    ``batch`` (``b``, projected by ``projections[1]``, then deduped
    keep-latest by the ``order`` columns, each descending, when given:
    :func:`_latest_sql`) on ``keys``. Each side carries a ``TRUE``
    presence marker, so a NULL key never reads as an absent side. The action flags, as lateral aliases: ``__tgt`` /
    ``__src`` (that side supplied a row); ``__ins`` (batch row only);
    ``__del`` (matched and ``delete`` TRUE); ``__upd`` (matched and
    ``NOT delete AND update`` TRUE, an absent predicate dropping out);
    ``__take`` (``__ins OR __upd``: the batch row wins).

    ``outputs`` are ``(select list, filter)`` pairs over ``t.<col>``,
    ``b.<col>`` and the flags, UNION ALL-ed. ``update`` is SQL text or
    a Column, ``delete`` a Column, over ``t``/``b``. ``spark.sql`` takes
    no expressions as arguments, so Column predicates are evaluated in
    one ``select`` over the join (sides as ``t``/``b`` structs), which a
    second statement classifies."""
    spark = target.sparkSession
    on = " AND ".join(f"t.{k} <=> b.{k}" for k in map(_q, keys))
    side_b = "{b}" if projections[1] == "*" else f"(SELECT {projections[1]} FROM {{b}})"
    if order:
        side_b = f"({_latest_sql(side_b, keys, order)})"
    source = (
        f"(SELECT {projections[0]}, TRUE AS __t FROM {{t}}) t FULL OUTER JOIN "
        f"(SELECT *, TRUE AS __b FROM {side_b}) b ON {on}"
    )
    args = {"t": target, "b": batch}
    preds = {
        n: c for n, c in (("__d", delete), ("__u", update)) if isinstance(c, Column)
    }
    if preds:
        pairs = spark.sql(
            f"SELECT struct(t.*) AS t, struct(b.*) AS b FROM {source}", **args
        )
        source = "{p}"
        args = {"p": pairs.select("*", *(c.alias(n) for n, c in preds.items()))}
        delete = "__d" if delete is not None else None
        update = "__u" if "__u" in preds else update
    delete_if = delete or "FALSE"
    update_if = f"NOT {delete_if} AND ({update or 'TRUE'})"
    flags = ", ".join([
        "t.__t IS NOT NULL AS __tgt",
        "b.__b IS NOT NULL AS __src",
        "__src AND NOT __tgt AS __ins",
        f"__tgt AND __src AND ({delete_if}) IS TRUE AS __del",
        f"__tgt AND __src AND ({update_if}) IS TRUE AS __upd",
        "__ins OR __upd AS __take",
    ])
    text = " UNION ALL ".join(
        "SELECT * EXCEPT (__tgt, __src, __ins, __del, __upd, __take) "
        f"FROM (SELECT {flags}, {select} FROM {source})"
        + (f" WHERE {where}" if where else "")
        for select, where in outputs
    )
    return spark.sql(text, **args)


def _take_batch_sql(columns: Sequence[str]) -> str:
    """Output select list of a MERGE: the batch's value where ``__take``,
    else the target's."""
    return ", ".join(
        f"CASE WHEN __take THEN b.{c} ELSE t.{c} END AS {c}" for c in map(_q, columns)
    )


def _latest_sql(side: str, keys: Sequence[str], order: Sequence[str]) -> str:
    """A SELECT keeping the latest row of ``side`` per key — row_number
    over (keys ORDER BY ``order`` DESC). This is THE scale-safe dedup:
    one shuffle on the keys, no full-row comparison."""
    by = ", ".join(f"{_q(c)} DESC" for c in order)
    return (
        "SELECT * EXCEPT (__rn) FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY {', '.join(map(_q, keys))} ORDER BY {by})"
        f" AS __rn FROM {side}) WHERE __rn = 1"
    )


def keep_latest(df: DataFrame, pk: str | Sequence[str], order_col: str) -> DataFrame:
    """Keyed dedup keeping the most recent row per key by ``order_col``
    (:func:`_latest_sql`, the dedup every MERGE runs on its batch)."""
    return df.sparkSession.sql(_latest_sql("{df}", _key_list(pk), [order_col]), df=df)


def changed_predicate(
    fields: Sequence[StructField], audit_col: str | None = AUDIT_COLUMN
) -> str:
    """OR-chain of null-safe inequality over the non-audit columns
    ``fields`` describe, as SQL text over the ``t``/``b`` sides — the
    Spark form of the reference's ``update_cond`` (etl.py:160-162):
    ``t1.c != t2.c OR (t1.c IS NULL) != (t2.c IS NULL)`` per column
    collapses to ``NOT (t.c <=> b.c)``. ``audit_col=None`` compares
    every column; with no column to compare, nothing changed. A
    top-level map has no ``<=>`` (maps are unordered), so it compares
    its entries sorted — equal maps match whatever their key order; a
    map nested in another type stays unsupported (Spark rejects the
    comparison)."""

    def side(s: str, f: StructField) -> str:
        c = f"{s}.{_q(f.name)}"
        return f"array_sort(map_entries({c}))" if isinstance(f.dataType, MapType) else c

    preds = [
        f"NOT ({side('t', f)} <=> {side('b', f)})" for f in fields if f.name != audit_col
    ]
    return " OR ".join(preds) or "FALSE"


def merge_upsert(
    target: DataFrame,
    batch: DataFrame,
    pk: str | Sequence[str],
    order_col: str | None = AUDIT_COLUMN,
    audit_col: str = AUDIT_COLUMN,
) -> DataFrame:
    """SCD-type-1 MERGE as one SQL statement (:func:`_merge`) whose
    update clause is :func:`changed_predicate`; the batch's schema drift
    (``schema_evolution.drift_sources``) is projected in the same
    statement.

    WHEN MATCHED AND <any non-audit col changed (null-safe)> THEN take
    the batch row; WHEN MATCHED (no change) THEN keep the target row —
    including its audit timestamp; WHEN NOT MATCHED THEN insert the
    batch row; unmatched target rows persist. A batch with
    ``order_col`` keeps its latest row per key first.
    """
    keys = _key_list(pk)
    evolved, target_src, batch_src = drift_sources(target.schema, batch.schema)
    return _merge(
        target,
        batch,
        keys,
        (_take_batch_sql(evolved.names), None),
        update=changed_predicate([f for f in evolved if f.name not in keys], audit_col),
        order=[order_col] if order_col in evolved.names else (),
        projections=(
            projection_sql(evolved, target_src), projection_sql(evolved, batch_src)
        ),
    )


# --- versioned table commits (manifest-guarded swap) -----------------------
#
# Plain-Parquet tables can't MERGE in place, so each upsert writes a
# complete new version directory and commits it by atomically replacing
# a pointer file — the miniature of what Delta/Iceberg's transaction log
# does. A crash at ANY point leaves `_CURRENT` referencing a complete,
# readable version: before the flip the old version is still current;
# the flip itself is a single atomic os.replace; orphaned version dirs
# are garbage, removed by `vacuum_table`.
#
# A partitioned table is the same layout with `col=value` directories
# inside each version dir; `_write_version` reads the partitioning off
# the current version, so every writer keeps it without being told.
# Every version records its schema (`_SCHEMA`), partitioned ones
# included, so a partition value reads back with the type it was
# written with (a string "01" stays "01", not the inferred int 1).
#
# The commit protocol lives ONLY here. `rewrite_table` (take the lease,
# read current, transform, publish) is the public commit path; writers
# that need the lease for more than one read hold it themselves and
# call `_publish` = `_write_version` (next version name → parquet
# write) + `_commit` (pre-flip hook → pointer flip → vacuum), or the
# two halves when they must act between them (the partitioned upsert
# links untouched partitions, write-audit-publish audits the staged
# version). No other module knows the version-dir naming or the
# pointer file.

CURRENT_POINTER = "_CURRENT"
# a version's schema (Spark's JSON), read instead of inferred
_SCHEMA_RECORD = "_SCHEMA"
_VERSION_RE = re.compile(r"v\d{8}$")

# test hook: called after the new version dir is fully written but
# before the pointer flip (fault injection for crash-safety tests)
_before_pointer_flip = None

# --- writer lease ----------------------------------------------------------
#
# The versioned-table commit is SINGLE-WRITER by contract: without
# exclusion, two concurrent upserts can compute the same next-version
# name (torn data dir: both Spark jobs write into it) or, with distinct
# names, silently drop one batch (both merge against the same base, the
# second pointer flip wins). `writer_lock` enforces the contract with a
# lease file created O_CREAT|O_EXCL (atomic on POSIX and on object
# stores with if-none-match semantics). A holder that crashes leaves a
# stale lease; a later writer STEALS it CAS-style — `os.rename` of the
# stale lease to a unique tombstone, which exactly one stealer can win —
# then retries acquisition. Transactional formats (Delta/Iceberg)
# replace this whole block with their commit-log CAS.

WRITER_LOCK = "_WRITER_LOCK"
LEASE_SECONDS = 600.0
_LEASE_POLL_SECONDS = 0.05


class WriterLockError(RuntimeError):
    """Another writer holds the table's lease."""


@contextmanager
def writer_lock(target_path: str, wait_seconds: float = 0.0):
    """Exclusive writer lease on a versioned table root.

    Acquisition is an atomic ``O_CREAT|O_EXCL`` create of
    ``_WRITER_LOCK`` (content: pid + wallclock, for operators, and a
    token unique to this acquisition). Release unlinks the lease only
    while it still holds that token, so a holder whose lease was stolen
    never deletes the new holder's lease.
    ``wait_seconds=0`` (default) raises :class:`WriterLockError`
    immediately when the lease is held — concurrent writers are
    EXCLUDED, not queued; pass a wait to serialize instead. A lease
    older than :data:`LEASE_SECONDS` is presumed crashed and stolen:
    the stale file is renamed to a per-pid tombstone (only one
    stealer's rename succeeds) and acquisition retries."""
    os.makedirs(target_path, exist_ok=True)
    lock = os.path.join(target_path, WRITER_LOCK)
    token = f"{os.getpid()} {time.time():.3f} {uuid.uuid4().hex}\n"
    deadline = time.monotonic() + wait_seconds
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            try:
                os.write(fd, token.encode())
            finally:
                os.close(fd)
            break
        except FileExistsError:
            try:
                age = time.time() - os.stat(lock).st_mtime
            except FileNotFoundError:
                continue  # released between create and stat — retry now
            if age > LEASE_SECONDS:
                tomb = os.path.join(
                    target_path, f".{WRITER_LOCK}.stale.{os.getpid()}"
                )
                try:
                    os.rename(lock, tomb)  # CAS: one stealer wins
                    os.unlink(tomb)
                except FileNotFoundError:
                    pass  # another stealer won — retry acquisition
                continue
            if time.monotonic() >= deadline:
                raise WriterLockError(
                    f"writer lease held on {target_path} "
                    f"(age {age:.1f}s < lease {LEASE_SECONDS}s); "
                    "single-writer contract — retry with wait_seconds"
                ) from None
            time.sleep(_LEASE_POLL_SECONDS)
    try:
        yield
    finally:
        try:
            with open(lock) as fh:
                ours = fh.read() == token
            if ours:
                os.unlink(lock)
        except FileNotFoundError:
            pass  # lease was stolen mid-write (we exceeded it)


def _current_version(target_path: str) -> str | None:
    f = os.path.join(target_path, CURRENT_POINTER)
    if not os.path.exists(f):
        return None
    with open(f) as fh:
        name = fh.read().strip()
    return name or None


def table_data_path(target_path: str) -> str | None:
    """Resolve a table root to its current version dir, or ``None``
    when the table holds no data yet: the root is missing, empty, or
    holds only version dirs staged before a first commit. Any other
    root (a flat-Parquet dir, say) is refused with ``ValueError``."""
    v = _current_version(target_path)
    if v:
        return os.path.join(target_path, v)
    if os.path.isdir(target_path) and any(
        not (f.startswith((".", "_")) or _VERSION_RE.fullmatch(f))
        for f in os.listdir(target_path)
    ):
        raise ValueError(
            f"{target_path} is not a versioned table (no {CURRENT_POINTER} "
            "pointer); write its rows into a new root through write_upsert"
        )
    return None


def read_table(
    spark: SparkSession, target_path: str, version: str | None = None
) -> DataFrame:
    """Read a table's current version (its merged view, for a
    merge-on-read version: :func:`_read_version`).

    ``version`` time-travels to a specific retained version dir (a
    ``list_versions`` name) instead of the ``_CURRENT`` pointer — the plain-Parquet
    analog of Delta's ``VERSION AS OF``. Old versions stay readable
    until ``vacuum_table`` retires them; asking for a vacuumed or
    unknown version raises rather than silently reading current."""
    if version is not None:
        path = os.path.join(target_path, version)
        if not (_VERSION_RE.fullmatch(version) and os.path.isdir(path)):
            raise FileNotFoundError(
                f"version {version!r} not present under {target_path} "
                f"(retained: {list_versions(target_path)})"
            )
        return _read_version(spark, path)
    path = table_data_path(target_path)
    if path is None:
        raise FileNotFoundError(f"no table data under {target_path}")
    return _read_version(spark, path)


def _read_version(spark: SparkSession, data_dir: str) -> DataFrame:
    """THE reader of a table state: the version's base, read through its
    schema record (no footer-inference job, partition types as written).
    A merge-on-read version's delta logs, read through the same record,
    fold into the base by ONE :func:`_merge` on the recorded keys: the
    latest log row per key (by ``__seq``, then ``__pos``) wins, and the
    filter on ``__op`` drops a matched ``'D'`` row, inserts no unmatched
    one and keeps every untouched base row."""
    with open(os.path.join(data_dir, _SCHEMA_RECORD)) as fh:
        schema = StructType.fromJson(json.load(fh))
    base = spark.read.schema(schema).parquet(data_dir)
    try:
        with open(os.path.join(data_dir, _DELTAS, _KEYS_RECORD)) as fh:
            keys = json.load(fh)
    except FileNotFoundError:
        return base
    logs = spark.read.schema(StructType([
        *schema,
        StructField(MOR_OP_COL, StringType()),
        StructField("__pos", LongType()),
        StructField("__seq", IntegerType()),
    ])).parquet(os.path.join(data_dir, _DELTAS))
    latest = (
        f"{_take_batch_sql(schema.names)}, b.{MOR_OP_COL}",
        f"{MOR_OP_COL} IS DISTINCT FROM 'D'",
    )
    return _merge(base, logs, keys, latest, order=["__seq", "__pos"]).drop(MOR_OP_COL)


def list_versions(target_path: str) -> list[str]:
    """Retained version dirs, oldest first (numeric order)."""
    if not os.path.exists(target_path):
        return []
    vs = [d for d in os.listdir(target_path) if _VERSION_RE.fullmatch(d)]
    return sorted(vs, key=lambda v: int(v[1:]))


def _next_version_name(target_path: str) -> str:
    versions = list_versions(target_path)
    n = int(versions[-1][1:]) + 1 if versions else 1
    return f"v{n:08d}"


def _commit_version(target_path: str, version_name: str) -> None:
    """Atomically point ``_CURRENT`` at ``version_name``: write a temp
    pointer, fsync, and os.replace it over the live pointer (atomic on
    POSIX — readers see either the old or the new version, never a torn
    state)."""
    tmp = os.path.join(target_path, f".{CURRENT_POINTER}.tmp")
    with open(tmp, "w") as fh:
        fh.write(version_name)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(target_path, CURRENT_POINTER))


def vacuum_table(target_path: str, keep: int = 1) -> list[str]:
    """Remove version dirs older than the ``keep`` most recent at or
    below the current pointer (never the current one, never newer
    in-flight writes). A file another version or a branch shares is a
    hard link, so it outlives the removed dir. Returns removed names."""
    current = _current_version(target_path)
    if current is None:
        return []
    versions = sorted(
        d for d in os.listdir(target_path)
        if _VERSION_RE.fullmatch(d) and d <= current
    )
    doomed = versions[:-keep] if keep > 0 else versions[:-1]
    removed = []
    for v in doomed:
        if v == current:
            continue
        shutil.rmtree(os.path.join(target_path, v), ignore_errors=True)
        removed.append(v)
    return removed


def _write_version(
    target_path: str, df: DataFrame, partition_col: str | None = None
) -> str:
    """Write ``df`` into the next version dir — staged, not yet
    current — and return its name. The version is written
    ``partitionBy(partition_col)``; with none given, it keeps the
    partitioning of the current version (its ``col=value``
    subdirectories), none for an empty table. The version also gets its
    schema record, which :func:`_read_version` reads instead of
    inferring the schema from the footers and partition dirs. Caller
    holds the writer lease."""
    version = _next_version_name(target_path)
    if partition_col is not None:
        parts = [partition_col]
    else:
        current = table_data_path(target_path)
        dirs = os.listdir(current) if current is not None else []
        parts = sorted({d.split("=", 1)[0] for d in dirs if "=" in d})
    path = os.path.join(target_path, version)
    df.write.mode("overwrite").partitionBy(*parts).parquet(path)
    with open(os.path.join(path, _SCHEMA_RECORD), "w") as fh:
        # made nullable as a Parquet read returns it
        fh.write(df._jdf.schema().asNullable().json())
    return version


def _commit(target_path: str, version: str, keep_versions: int) -> None:
    """Make the staged ``version`` current: run the pre-flip hook, flip
    the pointer, vacuum to ``keep_versions``. Caller holds the writer
    lease."""
    if _before_pointer_flip is not None:
        _before_pointer_flip()
    _commit_version(target_path, version)
    vacuum_table(target_path, keep=keep_versions)


def _publish(target_path: str, df: DataFrame, keep_versions: int) -> str:
    """Commit ``df`` as the table's new current version and return its
    name (:func:`_write_version` then :func:`_commit`). Caller holds
    the writer lease."""
    version = _write_version(target_path, df)
    _commit(target_path, version, keep_versions)
    return version


def rewrite_table(
    spark: SparkSession,
    target_path: str,
    fn: Callable[[DataFrame | None], DataFrame],
    keep_versions: int = 1,
    lock_wait: float = 0.0,
) -> str:
    """THE commit path for a versioned table: under :func:`writer_lock`,
    read the current table (its merged view, :func:`_read_version`),
    commit ``fn(current)`` as a new version (:func:`_publish`) and
    return its name. ``fn`` gets ``None`` when the table has no data
    yet; a root that is not a versioned table raises ``ValueError``
    (:func:`table_data_path`).

    ``lock_wait=0`` raises :class:`WriterLockError` at once if another
    writer holds the lease; ``> 0`` serializes behind it."""
    with writer_lock(target_path, wait_seconds=lock_wait):
        data = table_data_path(target_path)
        current = _read_version(spark, data) if data is not None else None
        return _publish(target_path, fn(current), keep_versions)


def write_upsert(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    pk: str | Sequence[str],
    order_col: str | None = AUDIT_COLUMN,
    keep_versions: int = 1,
    lock_wait: float = 0.0,
) -> None:
    """Materialized upsert against a table root (empty or versioned):
    read the current version's merged view → merge → write a complete
    new version dir → atomic pointer-file commit (manifest-guarded; a
    crash mid-upsert leaves the previous version readable). Into an
    empty root the batch is written deduped by :func:`keep_latest`.
    With Delta/Iceberg this whole function is a native MERGE INTO; the
    versioned layout is the plain-Parquet stand-in for their
    transaction log.

    ``keep_versions`` is the retention window: how many committed
    versions survive the post-commit vacuum. 1 (default) keeps only
    current; >1 enables time travel via ``read_table(version=...)`` —
    the plain-Parquet analog of Delta's VERSION AS OF + RETAIN.

    SINGLE-WRITER: the whole read→merge→commit runs under
    :func:`writer_lock` (via :func:`rewrite_table`). A concurrent
    writer gets :class:`WriterLockError` immediately (``lock_wait=0``)
    or serializes behind the lease (``lock_wait > 0``) — never a torn
    version dir or a silently dropped batch."""

    def merge(current: DataFrame | None) -> DataFrame:
        if current is not None:
            return merge_upsert(current, batch, pk, order_col=order_col)
        if order_col in batch.columns:
            return keep_latest(batch, pk, order_col)
        return batch

    rewrite_table(spark, target_path, merge, keep_versions, lock_wait)


def delete_keys(
    spark: SparkSession,
    target_path: str,
    keys: DataFrame,
    pk: str | Sequence[str],
    keep_versions: int = 1,
) -> int:
    """MERGE ... WHEN MATCHED THEN DELETE for the versioned table —
    the K2-family operation the reference's upsert surface lacks and
    Delta/Iceberg expose natively. The current version is anti-joined
    against the key batch and the survivors commit as a NEW version
    under the same writer lease / atomic-pointer discipline as
    :func:`write_upsert`.

    This is the right-to-erasure shape: the purge is immediately
    visible to readers, while prior versions remain until the
    retention window (``keep_versions``) vacuums them — after which
    the deletion is durable on disk. Returns the number of rows
    removed. A partitioned table stays partitioned (the new version
    keeps the current version's partitioning)."""
    pks = _key_list(pk)
    with writer_lock(target_path):
        target = read_table(spark, target_path)
        doomed = keys.select(*pks).distinct()
        # the rows the anti-join drops, counted by the same equi-join
        n_removed = target.join(doomed, pks, "left_semi").count()
        _publish(target_path, target.join(doomed, pks, "left_anti"), keep_versions)
    return n_removed


def write_upsert_partitioned(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    pk: str | Sequence[str],
    partition_col: str,
    order_col: str | None = AUDIT_COLUMN,
) -> list[str]:
    """Partition-pruned MERGE into a versioned table written
    ``partitionBy(partition_col)``: only the partitions the batch
    touches are read, merged, and rewritten — the rest of the table is
    never opened. Commits a new version under the same writer lease
    and atomic pointer flip as :func:`write_upsert`, so the commit is
    all-or-nothing, crash-safe, and readable through
    :func:`read_table` (time travel and :func:`delete_keys` included).

    This is the shape that matters at 100 TB: a daily increment
    touching 3 of 3,000 date partitions reads and rewrites 0.1% of the
    table instead of all of it. Requirements: ``partition_col`` is
    immutable per pk (true for event-date/ingest-date partitioning),
    so a key never migrates between partitions.

    Mechanics: collect the batch's distinct partition values (tiny —
    it is the partition count, not the row count), read the current
    version with a pushed-down ``IN`` filter over those values
    (partition pruning skips every other directory), merge, and write
    the merged rows into the next version dir. Every partition dir of
    the current version that the new version lacks is then hard-linked
    file by file into it, so untouched partitions are never rewritten.
    A merge-on-read version is the exception: its delta logs may touch
    any partition and the new version carries none, so its whole merged
    view is merged and written. Returns the batch's partition values.
    """
    keys = _key_list(pk)
    parts = [
        str(r[0])
        for r in batch.select(partition_col).distinct().collect()
    ]
    with writer_lock(target_path):
        current = table_data_path(target_path)
        pruned = current is not None and not _delta_logs(current)
        if current is None:
            out = batch
            if order_col in batch.columns:
                out = keep_latest(batch, keys, order_col)
        else:
            target = _read_version(spark, current)
            if pruned:
                target = target.filter(F.col(partition_col).isin(parts))
            out = merge_upsert(target, batch, keys, order_col=order_col)
        # repartition on the partition column first: partitionBy from
        # an arbitrarily-partitioned frame writes tasks x directories
        # small files (the round-13 partition-evolution lesson);
        # clustered, each directory gets one file
        version = _write_version(
            target_path, out.repartition(F.col(partition_col)), partition_col
        )
        new = os.path.join(target_path, version)
        for d in os.listdir(current) if pruned else []:
            # an untouched partition: hard-link its files (.crc included)
            if "=" in d and not os.path.exists(os.path.join(new, d)):
                shutil.copytree(
                    os.path.join(current, d),
                    os.path.join(new, d),
                    copy_function=os.link,
                )
        _commit(target_path, version, keep_versions=1)
        return parts


def additive_upsert(
    target: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
) -> DataFrame:
    """Aggregate-merge: combine a pre-aggregated delta into a rollup
    table by ADDING measures on key conflict (vs. merge_upsert's
    replace semantics). The algebra requires the measures to be
    commutative monoids (count/sum — avg must be carried as sum+count).

    This is the maintenance step of an incremental materialized view:
    each micro-batch is aggregated to the rollup grain (tiny) and then
    merged here — the full fact history is never re-read. One shuffle
    of two already-aggregated sides on the rollup keys (:func:`_merge`'s
    join; no action flag is read).
    """
    keys_sql = [f"coalesce(t.{k}, b.{k}) AS {k}" for k in map(_q, keys)]
    sums_sql = [
        f"coalesce(t.{c}, 0) + coalesce(b.{c}, 0) AS {c}" for c in map(_q, sum_cols)
    ]
    return _merge(target, delta, keys, (", ".join(keys_sql + sums_sql), None))


def scd2_upsert(
    target: DataFrame,
    batch: DataFrame,
    pk: str | Sequence[str],
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """SCD Type-2 MERGE: history-keeping upsert. The target carries
    (valid_from, valid_to) per version; ``valid_to IS NULL`` marks the
    current version. For each batch row:

    - pk unseen → insert as current (valid_from = batch ts);
    - pk current version differs (null-safe, ignoring validity cols) →
      CLOSE the current version (valid_to = batch ts) and insert the
      batch row as the new current version;
    - unchanged → no-op (closed history is never touched).

    One plan: split target into closed history (passes through
    untouched — at scale it is partition-pruned out by
    ``valid_to IS NOT NULL``) + current versions full-outer-joined to
    the deduped batch. Two shuffles total regardless of history depth.
    """
    keys = _key_list(pk)
    schema = target.schema
    data_cols = [c for c in schema.names if c not in (*keys, valid_from, valid_to)]
    row = [_q(c) for c in (*keys, *data_cols)]
    vf, vt, ts = map(_q, (valid_from, valid_to, ts_col))
    kept = [f"t.{c} AS {c}" for c in row] + [
        f"t.{vf} AS {vf}", f"CASE WHEN __upd THEN b.{ts} END AS {vt}"
    ]
    new = [f"b.{c} AS {c}" for c in row] + [
        f"b.{ts} AS {vf}", f"{null_sql(schema[valid_to].dataType)} AS {vt}"
    ]
    merged = _merge(
        target.filter(F.col(valid_to).isNull()),
        batch,
        keys,
        # surviving current rows: unchanged target rows, or closed-out versions
        (", ".join(kept), "__tgt"),
        # new versions: brand-new pks, or the changed rows' replacements
        (", ".join(new), "__take"),
        update=changed_predicate([schema[c] for c in data_cols], audit_col=None),
        order=[ts_col],
    )
    return target.filter(F.col(valid_to).isNotNull()).unionByName(merged)


def conditional_merge(
    target: DataFrame,
    batch: DataFrame,
    pk: str | Sequence[str],
    matched_delete: Column | None = None,
    matched_update: str | Column | None = None,
) -> DataFrame:
    """MERGE with CONDITIONAL matched clauses, as one lazy plan:

    - WHEN MATCHED AND ``matched_delete``          THEN DELETE
    - WHEN MATCHED AND ``matched_update``          THEN UPDATE (batch row)
    - WHEN MATCHED (neither predicate)             THEN keep target row
    - WHEN NOT MATCHED                             THEN INSERT
    - unmatched target rows persist (no NOT MATCHED BY SOURCE clause).

    Predicates are Columns over the ``t``/``b`` aliases (e.g.
    ``F.col("b.status") == 'F'``) — ``matched_update`` may also be SQL
    text over them, such as :func:`changed_predicate` — evaluated ONLY
    on matched pairs; a
    clause fires only when its predicate is TRUE (a NULL
    ``matched_delete`` neither deletes nor updates) — the Delta/Iceberg
    conditional-clause MERGE surface expressed as :func:`_merge`'s
    full-outer join, the predicates in one select over it, so Catalyst
    plans it like any other join (shuffle by key, AQE-eligible)."""
    return _merge(
        target,
        batch,
        _key_list(pk),
        (_take_batch_sql(target.columns), "NOT __del"),
        update=matched_update,
        delete=matched_delete,
    )


def merge_preview(
    target: DataFrame,
    batch: DataFrame,
    pk: str | Sequence[str],
    matched_delete: Column | None = None,
    matched_update: str | Column | None = None,
) -> DataFrame:
    """DRY-RUN of :func:`conditional_merge`: classify every would-be
    output decision WITHOUT writing — the MERGE preview (Delta's
    `DESCRIBE ... MERGE` / dbt's `--dry-run` shape) you run before an
    irreversible upsert to sanity-check clause predicates against the
    real batch.

    Returns one row per (target row or batch row) with an ``action``
    column: 'insert' (batch-only), 'delete' (matched + delete pred),
    'update' (matched + update pred, not deleted), 'noop_matched'
    (matched, neither clause fires), 'keep_target' (target-only).
    Both sides' columns come back under ``t_``/``b_`` prefixes so the
    caller can aggregate deltas. Same :func:`_merge` statement and flags
    as the real MERGE, so the two cannot disagree — previewing costs
    exactly one merge plan, no writes."""
    action = (
        "CASE WHEN __ins THEN 'insert' WHEN __del THEN 'delete'"
        " WHEN __upd THEN 'update' WHEN __tgt AND __src THEN 'noop_matched'"
        " ELSE 'keep_target' END AS action"
    )
    cols = [f"t.{_q(c)} AS {_q('t_' + c)}" for c in target.columns]
    cols += [f"b.{_q(c)} AS {_q('b_' + c)}" for c in batch.columns]
    return _merge(
        target,
        batch,
        _key_list(pk),
        (", ".join([action, *cols]), None),
        update=matched_update,
        delete=matched_delete,
    )


def write_audit_publish(
    spark: SparkSession,
    df: DataFrame,
    target_path: str,
    bad_predicate: str,
) -> dict:
    """Write-Audit-Publish (the Iceberg/lakehouse WAP pattern) on the
    versioned-table layout: stage ``df`` as a new version directory
    WITHOUT moving ``_CURRENT`` (readers keep seeing the old table),
    audit the staged files, and only then publish. If the audit finds
    rows matching ``bad_predicate``, they are written to a quarantine
    sidecar (``<root>/_quarantine/<staged_version>``) and a CLEANED
    version is published instead. Either way the publish is the shared
    commit tail (pre-flip hook, pointer flip, vacuum to one version),
    so the staged and previous versions are retired; the quarantine
    sidecar is not a version and stays.

    Returns {staged_version, published_version, n_staged, n_bad,
    n_published, audit_passed}.

    Scale notes (100 TB): staging is a plain parquet write; the audit
    reads back the staged FILES (never re-runs the upstream pipeline,
    so the audit sees exactly the bytes that would be published) and
    the publish itself is one atomic pointer rename, identical cost at
    any table size."""
    with writer_lock(target_path):
        staged_v = _write_version(target_path, df)
        staged = _read_version(spark, os.path.join(target_path, staged_v))
        n_staged = staged.count()
        # A NULL audit predicate is treated as BAD (quarantined), never
        # silently dropped: the quarantine side takes `pred IS NOT FALSE`
        # and the publish side takes the exact complement `pred IS FALSE`,
        # so every staged row lands in exactly one of the two outputs.
        bad = staged.filter(f"({bad_predicate}) IS NOT FALSE")
        n_bad = bad.count()
        if n_bad == 0:
            _commit(target_path, staged_v, keep_versions=1)
            return {
                "staged_version": staged_v,
                "published_version": staged_v,
                "n_staged": n_staged,
                "n_bad": 0,
                "n_published": n_staged,
                "audit_passed": True,
            }
        qdir = os.path.join(target_path, "_quarantine", staged_v)
        bad.write.mode("overwrite").parquet(qdir)
        clean_v = _write_version(
            target_path, staged.filter(f"({bad_predicate}) IS FALSE")
        )
        n_published = _read_version(spark, os.path.join(target_path, clean_v)).count()
        _commit(target_path, clean_v, keep_versions=1)
        return {
            "staged_version": staged_v,
            "published_version": clean_v,
            "n_staged": n_staged,
            "n_bad": n_bad,
            "n_published": n_published,
            "audit_passed": False,
        }


# ---------------------------------------------------------------------------
# Merge-on-read (MOR) tables — round 12. The versioned-dir layout above
# is COPY-ON-WRITE: every upsert rewrites a full version (read-optimal,
# write-amplified). MOR is the other lakehouse point on that trade-off
# (Hudi MOR / Iceberg v2 delete files / Delta DVs): writes append tiny
# DELTA LOGS and the READER merges them against the base — O(delta)
# ingest, merge cost deferred to scan time, reclaimed by compaction.
# A MOR table is a versioned table like any other; a version holds its
# base files and its delta logs:
#     <root>/_CURRENT, <root>/vNNNNNNNN/part-*.parquet    (the base)
#     <root>/vNNNNNNNN/_deltas/__seq=<n>/part-*.parquet   (op: 'U' / 'D')
# An append commits a NEW version: the current one hard-linked plus one
# log. A base read skips `_deltas` (Spark lists no `_`-prefixed dir);
# `_read_version`, the one reader, reads the logs as one table whose
# partition column `__seq` orders them and folds them into the base
# through `_merge` on the keys the first append recorded (`_KEYS`) —
# latest-op-wins per key across (base < logs by seq), and within one
# log the LAST row wins (``__pos``, frozen at write time, breaks
# intra-batch ties deterministically). So `read_table` and every
# copy-on-write writer see the merged view, and `io.compact_table`
# folds the logs: it publishes that view as a version without logs.
# Appends commit through `_commit`, so each is crash-safe at every
# point: the pointer names the old version or the new one, both
# complete, and the post-flip vacuum retires the old one and any
# orphan of a crash.
# ---------------------------------------------------------------------------

MOR_OP_COL = "__op"
# a MOR version's delta logs, one `__seq=<n>` dir per append (n zero-padded,
# so the logs sort alike whether `__seq` is inferred as a number or not)
_DELTAS = "_deltas"
# the key the logs fold on (a JSON list), recorded by the first append
_KEYS_RECORD = "_KEYS"
# compact once the delta logs outgrow this fraction of the base's bytes
MOR_MAX_DELTA_FRAC = 0.10


def write_mor_base(df: DataFrame, root: str) -> None:
    """Initialize a merge-on-read table: a base version with no logs."""
    with writer_lock(root):
        _publish(root, df, keep_versions=1)


def _delta_logs(data_dir: str) -> list[str]:
    """The delta-log dirs of the version in ``data_dir``."""
    return glob.glob(os.path.join(data_dir, _DELTAS, "__seq=*"))


def append_mor_delta(
    spark: SparkSession, root: str, batch: DataFrame, pk: str | Sequence[str]
) -> int:
    """Append one delta log (rows carry :data:`MOR_OP_COL`: 'U' or
    'D') as the table's next version; returns the log's seq number.

    Under the writer lease, the current version is hard-linked into the
    next version dir, the batch is written there as the newest log
    ``_deltas/__seq=<n>``, and the version commits through
    :func:`_commit`. The first append records ``pk`` as the key the
    logs fold on (``_deltas/_KEYS``); later appends must name the same
    key. :func:`read_table` returns the merged view.

    Scale notes (100 TB): cost is O(batch) written plus one link per
    file of the current version — no read or rewrite of the base. Two
    rows for the same pk WITHIN one batch resolve last-row-wins:
    ``__pos`` is assigned in row order over the single coalesced
    partition and frozen in the file, so every later read breaks the
    tie the same way."""
    keys = _key_list(pk)
    with writer_lock(root):
        data = table_data_path(root)
        if data is None:
            raise FileNotFoundError(f"no merge-on-read base under {root}")
        record = os.path.join(_DELTAS, _KEYS_RECORD)
        if os.path.exists(os.path.join(data, record)):
            with open(os.path.join(data, record)) as fh:
                if json.load(fh) != keys:
                    raise ValueError(f"{root}'s delta logs are keyed on another key")
        version = _next_version_name(root)
        new = os.path.join(root, version)
        shutil.copytree(data, new, copy_function=os.link)
        seq = len(_delta_logs(new)) + 1
        batch.coalesce(1).withColumn(
            "__pos", F.monotonically_increasing_id()
        ).write.parquet(os.path.join(new, _DELTAS, f"__seq={seq:08d}"))
        if seq == 1:
            with open(os.path.join(new, record), "w") as fh:
                json.dump(keys, fh)
        _commit(root, version, keep_versions=1)
        return seq


def mor_should_compact(root: str, max_files: int = 64) -> bool:
    """Compaction-cadence policy, pinned by the round-13 probe
    (scripts/probe_r13_mor.md): a merged read degrades LINEARLY with
    the accumulated delta count (~15 ms per delta log at sf0.1 — file
    listing + one task per log + delta-grain dedup rows), while
    compaction (``io.compact_table``) costs one merged read + base
    write and resets the scan to base-only (0.31 s vs 2.96 s at 128
    logs). Compact when either the current version's LOG COUNT reaches
    ``max_files`` (one file per log: task/listing overhead) or the
    delta BYTES exceed :data:`MOR_MAX_DELTA_FRAC` of the base (the
    merge's work grows with them). Pure filesystem metadata — no Spark
    job."""
    base = table_data_path(root)
    logs = base and _delta_logs(base)
    if not logs:
        return False
    if len(logs) >= max_files:
        return True
    delta_bytes = sum(
        os.path.getsize(p)
        for log in logs
        for p in glob.glob(os.path.join(log, "*.parquet"))
    )
    base_bytes = sum(
        os.path.getsize(os.path.join(base, f))
        for f in os.listdir(base)
        if f.endswith(".parquet")
    )
    return delta_bytes > MOR_MAX_DELTA_FRAC * max(base_bytes, 1)


# --- table branches (Nessie-style refs over the versioned layout) ----------
#
# A branch is a named ref under ``<root>/_branches/<name>``, itself a
# versioned table (``_CURRENT``-pointed version dirs), so every
# primitive (writer lease, commit, vacuum) applies unchanged, plus
# ``_BASE``: the fork snapshot the three-way merge diffs against. Both
# start as hard-linked copies of main's current version, so the branch
# holds its own links to the fork's files and main vacuums without
# knowing about branches. Deletion semantics are out of scope
# (upsert-only branches), matching ``write_upsert``.

_BRANCH_DIR = "_branches"
# a branch's fork snapshot: main's version at creation, hard-linked
_BRANCH_BASE = "_BASE"


def _branch_root(target_path: str, name: str) -> str:
    if not re.fullmatch(r"[A-Za-z0-9_\-]{1,64}", name):
        raise ValueError(f"invalid branch name: {name!r}")
    return os.path.join(target_path, _BRANCH_DIR, name)


def list_branches(target_path: str) -> list[str]:
    bdir = os.path.join(target_path, _BRANCH_DIR)
    if not os.path.isdir(bdir):
        return []
    return sorted(
        n for n in os.listdir(bdir)
        if _current_version(os.path.join(bdir, n)) is not None
    )


def branch_create(target_path: str, name: str) -> str:
    """Create branch ``name`` at the current main version and return
    that fork version. Under the MAIN writer lease (so the fork cannot
    be vacuumed mid-copy), main's current version is hard-linked into
    the branch root twice: as ``_BASE`` and as the branch's first
    version, which commits through the branch's pointer. Creation costs
    one link per file of the version (O(files), not an O(1) pointer);
    in return the fork's files live as long as the branch does."""
    with writer_lock(target_path):
        fork = _current_version(target_path)
        if fork is None:
            raise ValueError(f"cannot branch empty table {target_path}")
        broot = _branch_root(target_path, name)
        if os.path.exists(broot):
            raise ValueError(f"branch already exists: {name}")
        first = _next_version_name(broot)
        for d in (_BRANCH_BASE, first):
            shutil.copytree(
                os.path.join(target_path, fork),
                os.path.join(broot, d),
                copy_function=os.link,
            )
        _commit_version(broot, first)
    return fork


def read_branch(spark: SparkSession, target_path: str, name: str) -> DataFrame:
    """Branch head: :func:`read_table` of the branch root."""
    return read_table(spark, _branch_root(target_path, name))


def write_upsert_branch(
    spark: SparkSession,
    target_path: str,
    name: str,
    batch: DataFrame,
    pk: str | Sequence[str],
    order_col: str | None = None,
) -> None:
    """Upsert ``batch`` into the branch head (never touches main):
    :func:`write_upsert` of the branch root, under its own writer
    lease."""
    if name not in list_branches(target_path):
        raise ValueError(f"no branch {name!r} on {target_path}")
    write_upsert(spark, _branch_root(target_path, name), batch, pk, order_col)


def merge_branch(
    spark: SparkSession,
    target_path: str,
    name: str,
    pk: str | Sequence[str],
    on_conflict: str = "theirs",
) -> dict:
    """Three-way merge of branch ``name`` back into main.

    base = the branch's ``_BASE`` (the fork snapshot), ours = main
    head, theirs = branch head.
    A row CHANGED on a side iff a MERGE of it into base would insert or
    update it (:func:`_merge`): it is new or differs null-safely from
    base, NULL keys included. Conflicts (changed on both sides) resolve branch-wins
    (``on_conflict='theirs'``) or raise (``'error'``). Non-conflicting
    changes from both sides land; the merged state commits as a new
    main version under the main writer lease and the branch ref is
    deleted (consumed). Returns
    ``{n_branch_changes, n_main_changes, n_conflicts, merged_version}``.
    """
    if on_conflict not in ("theirs", "error"):
        raise ValueError(f"unknown on_conflict policy: {on_conflict!r}")
    keys = _key_list(pk)
    broot = _branch_root(target_path, name)
    with writer_lock(target_path):
        base = _read_version(spark, os.path.join(broot, _BRANCH_BASE))
        ours = read_table(spark, target_path)
        theirs = read_table(spark, broot)
        changed = changed_predicate([f for f in base.schema if f.name not in keys])

        def changed_rows(side: DataFrame) -> DataFrame:
            # the side's rows a MERGE into base would insert or update
            cols = ", ".join(f"b.{c} AS {c}" for c in map(_q, side.columns))
            return _merge(base, side, keys, (cols, "__take"), update=changed)

        th_ch = changed_rows(theirs).localCheckpoint(eager=False)
        our_ch = changed_rows(ours)
        n_theirs = th_ch.count()
        n_ours = our_ch.count()
        n_conflicts = th_ch.join(our_ch.select(*keys), keys, "inner").count()
        if on_conflict == "error" and n_conflicts:
            raise ValueError(
                f"merge of branch {name!r} has {n_conflicts} conflicts"
            )
        merged = merge_upsert(ours, th_ch, pk, order_col=None)
        version = _publish(target_path, merged, keep_versions=1)
        shutil.rmtree(broot, ignore_errors=True)
        return {
            "n_branch_changes": n_theirs,
            "n_main_changes": n_ours,
            "n_conflicts": n_conflicts,
            "merged_version": version,
        }
