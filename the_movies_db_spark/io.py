"""IO + catalog surface (SURVEY §2.1 S2/S3, §2.2 K1/K4 parity).

The reference probes PostgreSQL ``information_schema`` with f-string
SQL (``/root/reference/utilities/etl.py:292-334``,
``/root/reference/utilities/queries.py:6-34``); here the same
capabilities are the Spark catalog API — no SQL string synthesis, no
injection surface (reference bug §2.13.5), no probe temp tables.

Scale notes:
- ``write_table`` partitions/buckets are caller-declared: at 100 TB a
  fact table is written ``partitionBy`` a low-cardinality column
  (date) and optionally bucketed by join key so downstream joins
  avoid a shuffle.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


# --- repo-local scratch space (build contract: never write outside the
# repo). All transient materializations — streaming checkpoints,
# foreachBatch targets, persisted-index staging — live under
# spark-warehouse/scratch (gitignored) instead of /tmp. ----------------------

_SCRATCH_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "spark-warehouse",
    "scratch",
)
_SCRATCH_LIVE: set[str] = set()


def _purge_scratch() -> None:
    import shutil

    for d in list(_SCRATCH_LIVE):
        shutil.rmtree(d, ignore_errors=True)


def scratch_dir(prefix: str, unique: bool = True) -> str:
    """Repo-local scratch directory.

    ``unique=True`` → a fresh dir per call (streaming checkpoints and
    foreachBatch targets must not be reused: a reused checkpoint would
    replay zero offsets and silently return stale results). Dirs this
    process created are removed at exit; leftovers from DEAD prior
    processes under the same prefix are purged eagerly here. The
    creating pid is embedded in the dir name and checked with
    ``kill(pid, 0)`` — a dir owned by a LIVE concurrent process is
    never touched (two concurrent oracle sweeps once raced here: the
    second sweep's eager purge deleted the first one's upsert table
    mid-read and its row count silently dropped).

    ``unique=False`` → one fixed, reusable dir per prefix, for
    build-once artifacts written with ``mode("overwrite")`` (e.g. the
    persisted inverted index) so repeated runs reuse instead of leak.
    """
    import atexit
    import glob
    import shutil
    import tempfile

    os.makedirs(_SCRATCH_ROOT, exist_ok=True)
    if not _SCRATCH_LIVE:
        atexit.register(_purge_scratch)
    if not unique:
        d = os.path.join(_SCRATCH_ROOT, prefix)
        os.makedirs(d, exist_ok=True)
        return d
    import re

    def _pid_alive(pid: int) -> bool:
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            return False
        except PermissionError:
            return True
        return True

    for old in glob.glob(os.path.join(_SCRATCH_ROOT, prefix + "_*")):
        if old in _SCRATCH_LIVE:
            continue
        base = os.path.basename(old)
        # Owner pid extraction: new-format dirs end with `_p<pid>`
        # (unambiguous — nothing follows the pid). Legacy dirs embed
        # `_p<pid>_` before mkdtemp's random suffix; a caller prefix
        # could itself contain `_p<digits>_`, so take the LAST such
        # segment (the owner pid is the one closest to the suffix).
        m = re.search(r"_p(\d+)$", base)
        pids = [m.group(1)] if m else re.findall(r"_p(\d+)_", base)
        if pids and _pid_alive(int(pids[-1])):
            continue  # owned by a live concurrent process
        shutil.rmtree(old, ignore_errors=True)
    # mkdtemp gives collision-free uniqueness; the pid suffix is part
    # of the ATOMICALLY-created final name (a create-then-rename window
    # would let a concurrent purge see a pid-less dir, treat it as a
    # dead leftover and rmtree a live process's scratch — the exact
    # race the pid marker exists to prevent).
    owned = tempfile.mkdtemp(
        prefix=f"{prefix}_", suffix=f"_p{os.getpid()}", dir=_SCRATCH_ROOT
    )
    _SCRATCH_LIVE.add(owned)
    return owned


def scratch_done(path: str) -> None:
    """Delete a scratch dir whose contents are no longer referenced
    (e.g. a streaming checkpoint after its query stopped)."""
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    _SCRATCH_LIVE.discard(path)


def build_once(work: str, stamp: dict, build) -> bool:
    """Serialize a fingerprint-stamped build-once layout.

    All build-once artifacts (persisted inverted index, ANN index,
    partitioned events copy) live in a FIXED ``unique=False`` scratch
    dir guarded by a ``_SOURCE`` stamp. The stamp check alone races:
    two concurrent processes that both observe a stale/absent stamp
    would ``mode("overwrite")`` the same directory simultaneously and
    corrupt the layout (the same race class as the upsert writer
    lease). This helper re-checks the stamp under that lease, so at
    most one process rebuilds and latecomers serialize then skip.

    ``build()`` must write every artifact below ``work`` (never
    replace ``work`` itself — the lock file lives inside it) and is
    only invoked when the on-disk stamp differs from ``stamp``. The
    stamp is written AFTER ``build()`` returns, so a crashed build
    re-runs. Returns True when a (re)build ran in this process.
    """
    import json

    from the_movies_db_spark.upsert import writer_lock

    stamp_path = os.path.join(work, "_SOURCE")

    def _fresh() -> bool:
        try:
            with open(stamp_path) as fh:
                return json.load(fh) == stamp
        except (OSError, json.JSONDecodeError):
            return False

    # Fast path without lock traffic: once built, every process sees
    # the matching stamp (it is written only after a complete build).
    if _fresh():
        return False
    with writer_lock(work, wait_seconds=300.0):
        if _fresh():  # another process finished the build while we waited
            return False
        build()
        with open(stamp_path, "w") as fh:
            json.dump(stamp, fh)
    return True


def _with_nanos_as_long(spark: SparkSession) -> None:
    # Older testdata generations store events.ts as TIMESTAMP(NANOS),
    # which Spark's parquet reader rejects outright; under this conf the
    # column surfaces as bigint nanos instead and load_table converts it.
    # Harmless for the current timestamp[us] generation. Runtime-settable,
    # so it works under the harness's session.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table (``TESTDATA.md``) lazily from ``sf_dir``.

    The driver has shipped ``events.ts`` in two physical generations:
    TIMESTAMP(NANOS) (older testdata — Spark has no nanos timestamp, so
    it is read as bigint under ``nanosAsLong`` and truncated to
    microseconds as TIMESTAMP_NTZ via pure NTZ arithmetic,
    session-timezone independent, matching DuckDB's truncation to its
    native microseconds) and plain timestamp[us] / NTZ (current testdata
    — loads natively, used as-is). ``load_table`` branches on the
    physical type so both generations work.
    """
    if name == "events":
        _with_nanos_as_long(spark)
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        # The driver has shipped `ts` as both TIMESTAMP(NANOS) (read as
        # bigint under nanosAsLong, converted here) and plain
        # timestamp[us] (already TIMESTAMP_NTZ — use as-is). Branch on
        # the physical type so both generations of testdata load.
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn(
                "ts",
                # integer DIV keeps full int64 precision (a double division
                # would round ~1.7e18 ns values and shift some events by 1µs)
                F.expr(
                    "timestampadd(MICROSECOND, ts DIV 1000,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


#: formats supported by read_any/write_any. Avro needs the external
#: spark-avro package; it is probed at call time and reported clearly
#: rather than failing inside Spark.
FORMATS: tuple[str, ...] = ("parquet", "csv", "json", "orc")


def read_any(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: str | None = None,
    keep_corrupt: bool = False,
    **options: str,
) -> DataFrame:
    """Format-agnostic batch source: parquet / CSV (header) / JSON-lines
    / ORC behind one call.

    Scale rules baked in rather than left to the caller:
    - an explicit ``schema`` (DDL string) skips inference — on 100 TB,
      CSV/JSON schema inference is a full extra pass over the data;
    - text formats parse PERMISSIVE, and ``keep_corrupt`` surfaces bad
      records in a ``_corrupt_record`` column instead of dropping them
      silently (the quarantine-table pattern); requires ``schema``;
    - every format returns splittable scans except single gzip files —
      that is a file-layout concern, not an engine one.
    """
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {FORMATS}")
    reader = spark.read
    if fmt == "csv":
        reader = reader.option("header", "true")
        if schema is None:
            reader = reader.option("inferSchema", "true")
    if fmt in ("csv", "json"):
        reader = reader.option("mode", "PERMISSIVE")
        if keep_corrupt:
            if schema is None:
                raise ValueError("keep_corrupt requires an explicit schema")
            schema = schema + ", _corrupt_record string"
            reader = reader.option("columnNameOfCorruptRecord", "_corrupt_record")
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.format(fmt).load(path)


def write_any(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    **options: str,
) -> None:
    """Format-agnostic batch sink (the export side of :func:`read_any`).
    CSV gets a header; JSON writes one object per line (the JSONL shape
    every corpus pipeline exchanges)."""
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {FORMATS}")
    writer = df.write.mode(mode)
    if fmt == "csv":
        writer = writer.option("header", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.format(fmt).save(path)


# spread() becomes a no-op once the input already has this many
# partitions: the helper exists to fix the LOCAL single-file layout
# (1 input partition serializing per-row-heavy compute), and at real
# scale a fact scan yields thousands of splits — inserting a full
# round-robin Exchange of raw rows there (worst: right before a
# combining aggregate that would otherwise partial-aggregate map-side
# with zero raw-row shuffle) would turn the local fix into a scale
# regression. Env-tunable for clusters whose "few partitions" notion
# differs.
SPREAD_SKIP_MIN = int(os.environ.get("SPARK_GRAFT_SPREAD_SKIP_MIN", "8"))


def spread(df: DataFrame, n: int | None = None) -> DataFrame:
    """Round-robin repartition to the session's core count — but ONLY
    when the input has too few partitions to parallelize.

    The driver's small-SF tables arrive as a single parquet file = one
    input partition, so CPU-heavy per-row expression work (minhash,
    simhash, LSH signatures) would otherwise run on one core. A
    round-robin shuffle of the (tiny) source rows is microseconds; the
    32× parallelism on the downstream compute is the win. At real
    scale the scan already yields thousands of splits, so the gate
    below makes this a no-op there; callers pass ``n`` only to force a
    specific width on skewed inputs, which bypasses the gate.

    The gate reads ``df.inputFiles()`` — leaf-file metadata from the
    already-built FileIndex, no job and no RDD conversion. (The
    obvious ``df.rdd.getNumPartitions()`` probe was measured at
    ~1.2 s PER QUERY on a cold JVM: ``.rdd`` builds the executed plan
    plus a row-deserializer codegen stage. inputFiles is a pure py4j
    metadata call.) A many-files input provably has enough scan
    parallelism; an empty or small list keeps the repartition, which
    is the safe local default.
    """
    spark = df.sparkSession
    target = n or spark.sparkContext.defaultParallelism
    if n is None:
        try:
            if len(df.inputFiles()) >= min(target, SPREAD_SKIP_MIN):
                return df
        except Exception:  # non-file sources: keep the repartition
            pass
    return df.repartition(target)


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: Sequence[str] | None = None,
) -> None:
    """Append/overwrite a Parquet table directory (reference K1 sink,
    /root/reference/utilities/etl.py:27-86, minus pandas ``to_sql``).

    Dedup is NOT implicit here (the reference deduped on every write,
    etl.py:50,76,118,143) — callers opt in via ``operators.dedup`` so a
    100 TB append doesn't pay a full shuffle it may not need.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    sort_within_by: Sequence[str] | None = None,
) -> tuple[int, int]:
    """Small-file compaction: rewrite a parquet directory into
    ceil(total_bytes / target_file_mb) files, optionally sorted within
    each output file so parquet row-group min/max stats become
    selective (the poor man's clustering — scans with predicates on
    the sort key skip whole row groups).

    Streaming sinks and frequent small upserts accrete thousands of
    tiny files; at 100 TB, file-listing and per-file open overhead
    dominate scans long before data volume does. Returns
    (files_before, files_after). The rewrite commits as a new version
    through ``upsert.rewrite_table`` — under the writer lease, so it
    raises ``upsert.WriterLockError`` instead of racing a concurrent
    upsert, and crash-safe via the atomic pointer flip. It rewrites the
    merged view, so a merge-on-read table's delta logs fold into the
    new version; a root that is not a versioned table is refused.
    """
    import glob

    from the_movies_db_spark.upsert import rewrite_table, table_data_path

    files_before = 0

    def rewrite(df: DataFrame) -> DataFrame:
        # sized from the data dir read under the lease
        nonlocal files_before
        files = glob.glob(
            os.path.join(table_data_path(path), "**", "*.parquet"),
            recursive=True,
        )
        files_before = len(files)
        total_bytes = sum(os.path.getsize(f) for f in files)
        n_out = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))
        out = df.repartition(int(n_out))
        if sort_within_by:
            out = out.sortWithinPartitions(*sort_within_by)
        return out

    final_dir = os.path.join(path, rewrite_table(spark, path, rewrite))
    files_after = len(
        glob.glob(os.path.join(final_dir, "**", "*.parquet"), recursive=True)
    )
    return files_before, files_after


def zorder_key(x, y, bits: int = 16):
    """Bit-interleaved Z-order key over two non-negative integer
    columns: bit b of x lands at position 2b, bit b of y at 2b+1, so
    sorting by the key clusters rows that are close in BOTH dimensions.
    Pure integer DIV/%/× arithmetic (no shifts), so the identical
    formula runs on any SQL engine for verification."""
    from pyspark.sql import functions as F

    xc = x if not isinstance(x, str) else F.col(x)
    yc = y if not isinstance(y, str) else F.col(y)
    terms = []
    for b in range(bits):
        terms.append((F.floor(xc / F.lit(2**b)).cast("bigint") % 2) * F.lit(2 ** (2 * b)))
        terms.append((F.floor(yc / F.lit(2**b)).cast("bigint") % 2) * F.lit(2 ** (2 * b + 1)))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def write_zordered(
    df,
    path: str,
    x_col: str,
    y_col: str,
    bits: int = 16,
    n_files: int | None = None,
) -> None:
    """Write a table clustered along a Z-order curve: range-partition
    on the interleaved key, sort within partitions, drop the key. Each
    output file then covers a tight range of BOTH x and y, so parquet
    row-group min/max stats prune scans with predicates on either (or
    both) dimensions — the poor man's multi-dimensional clustering
    (what Delta's OPTIMIZE ZORDER BY does, minus the transaction log).
    At 100 TB this is a maintenance pass after load, amortized across
    every subsequent selective scan."""
    from pyspark.sql import functions as F

    keyed = df.withColumn("__z", zorder_key(x_col, y_col, bits))
    parts = n_files or df.sparkSession.sparkContext.defaultParallelism
    (
        keyed.repartitionByRange(parts, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
