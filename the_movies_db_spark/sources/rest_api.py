"""Paginated REST API source (SURVEY §2.1 S1 — the reference's extract).

Reference behavior (`extract_movies`, /root/reference/dags/flows/
themovies.py:16-49): GET ``{base}/{endpoint}?page=N``, N=1.., append
``results``, stop when the API errors (HTTP 400 + success:false),
raise on other non-200s. Re-expressed with the reference's bugs fixed
by design (SURVEY §2.13.6: explicit page bound, not error-driven
termination) and the orchestration-level knobs (D1 fan-out, D3 retry)
as engine parameters:

- **pluggable transport** — any ``(url, params) -> dict`` callable;
  tests inject fixture pages, production injects ``requests.get``
  (import-gated: requests may be absent in this container);
- **bounded pagination** with ``max_pages`` + honoring the payload's
  ``total_pages`` when present;
- **retry with backoff** per page (D3 parity, themovies.py:117-122);
- **driver or executor fetch**: ``fetch_endpoint_df`` builds the
  DataFrame driver-side (fine for ≤10k rows/endpoint — the reference's
  actual scale); ``fetch_pages_distributed`` parallelizes page fetches
  across executors via ``mapInArrow`` over a page-id DataFrame — the
  shape you'd use for millions of pages, throttled by a per-task token
  bucket (D2).

Arrow-native ingest: both paths turn fetched records into Arrow with
one builder, ``_records_table``. It first runs Spark's own row
verifier (the check ``createDataFrame(rows, verifySchema=True)``
runs), because ``pa.Table.from_pylist`` alone silently truncates a
float into an integer column; then it builds the table against the
Arrow form of the schema, which keeps a NULL next to a bigint exact
(pandas would turn the column into float64). Driver-side, the tables
of all endpoints enter the plan through a single
``createDataFrame(table, schema)``: one ``LocalRelation`` of Arrow
batches, with no Python-row RDD for the first job to deserialize.

Typed landing schema: the reference let pandas/SQLAlchemy guess types
via a probe table (etl.py:204-210); here the movie record schema is
declared once (FIXTURES.md §1.1) and enforced on ingest, with
``genre_ids`` kept a native array (the reference JSON-stringified it,
themovies.py:72, because its pandas→SQL path couldn't load arrays).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    _make_type_verifier,
)

Transport = Callable[[str, dict], dict]

MOVIE_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("title", StringType()),
        StructField("original_title", StringType()),
        StructField("original_language", StringType()),
        StructField("overview", StringType()),
        StructField("release_date", StringType()),  # cast to DATE in clean()
        StructField("genre_ids", ArrayType(IntegerType())),
        StructField("popularity", DoubleType()),
        StructField("vote_average", DoubleType()),
        StructField("vote_count", LongType()),
        StructField("adult", BooleanType()),
        StructField("video", BooleanType()),
        StructField("poster_path", StringType()),
        StructField("backdrop_path", StringType()),
    ]
)

ENDPOINTS = ("popular", "top_rated", "now_playing", "upcoming")  # themovies.py:133
BASE_URL = "https://api.themoviedb.org/3/movie"


class ApiError(RuntimeError):
    pass


def requests_transport(headers: dict | None = None) -> Transport:
    """Production transport (import-gated — requests may be absent)."""
    import requests  # noqa: PLC0415

    def call(url: str, params: dict) -> dict:
        resp = requests.get(url, params=params, headers=headers or {}, timeout=30)
        if resp.status_code != 200:
            raise ApiError(f"{url} -> HTTP {resp.status_code}: {resp.text[:200]}")
        return resp.json()

    return call


def fetch_pages(
    transport: Transport,
    url: str,
    max_pages: int = 500,
    retries: int = 1,
    retry_delay_s: float = 3.0,
    params: dict | None = None,
) -> Iterable[dict]:
    """Yield record dicts across pages. Termination: ``total_pages``
    from the payload when present, else ``max_pages`` (never
    error-driven — reference bug §2.13.6). Per-page retry (D3)."""
    page = 1
    while page <= max_pages:
        attempt = 0
        while True:
            try:
                payload = transport(url, {**(params or {}), "page": page})
                break
            except ApiError:
                attempt += 1
                if attempt > retries:
                    raise
                time.sleep(retry_delay_s)
        yield from payload.get("results", [])
        total = payload.get("total_pages")
        if total is not None and page >= min(int(total), max_pages):
            return
        page += 1


def _records_table(rows: list[dict], schema: StructType) -> pa.Table:
    """Record dicts → Arrow table of ``schema``: the one record builder
    of the driver and executor paths. Every row first passes Spark's
    own verifier, so a value ``createDataFrame(rows, schema)`` would
    reject (``1.5`` for a bigint, ``"12"`` for a count, ``1`` for a
    boolean) is still rejected rather than coerced by Arrow. Keys
    outside ``schema`` are ignored and missing ones load as NULL."""
    verify = _make_type_verifier(schema)
    for r in rows:
        verify(r)
    return pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))


def _fetch_endpoint_table(
    transport: Transport,
    endpoint: str,
    schema: StructType,
    base_url: str = BASE_URL,
    max_pages: int = 500,
    **kwargs,
) -> pa.Table:
    rows = list(fetch_pages(transport, f"{base_url}/{endpoint}", max_pages, **kwargs))
    if not rows:  # reference P8 empty-input guard (themovies.py:60-61)
        raise ValueError(f"no rows returned for endpoint {endpoint!r}")
    return _records_table(rows, schema)


def fetch_endpoint_df(
    spark: SparkSession,
    transport: Transport,
    endpoint: str,
    base_url: str = BASE_URL,
    max_pages: int = 500,
    schema: StructType = MOVIE_SCHEMA,
    **kwargs,
) -> DataFrame:
    """Driver-side fetch → typed DataFrame (right for ≤10k rows/endpoint).
    The records are verified and built into one Arrow table
    (``_records_table``), which enters the plan as a ``LocalRelation``."""
    table = _fetch_endpoint_table(transport, endpoint, schema, base_url, max_pages, **kwargs)
    return spark.createDataFrame(table, schema)


def fetch_all_endpoints(
    spark: SparkSession,
    transport: Transport,
    endpoints: Sequence[str] = ENDPOINTS,
    schema: StructType = MOVIE_SCHEMA,
    **kwargs,
) -> DataFrame:
    """Per-endpoint fan-out (reference D1 dynamic task mapping,
    themovies.py:133-148) → one DataFrame tagged by a non-nullable
    ``endpoint`` column. The endpoints' Arrow tables are concatenated
    and handed to Spark in a single ``createDataFrame``."""
    tag = StructField("endpoint", StringType(), nullable=False)
    tables = []
    for e in endpoints:
        t = _fetch_endpoint_table(transport, e, schema, **kwargs)
        tables.append(t.append_column(tag.name, pa.array([e] * t.num_rows, pa.string())))
    return spark.createDataFrame(
        pa.concat_tables(tables), StructType([*schema.fields, tag])
    )


class TokenBucket:
    """Thread-safe token-bucket rate limiter (the D2 throttle done
    properly): ``rate`` tokens/sec refill up to ``capacity``;
    ``acquire`` blocks until a token is available. Monotonic clock, so
    wall-clock jumps can't mint tokens."""

    def __init__(self, rate: float, capacity: float | None = None):
        import threading

        self.rate = float(rate)
        self.capacity = float(capacity if capacity is not None else max(1.0, rate))
        self._tokens = self.capacity
        self._last = time.monotonic()
        self._lock = threading.Lock()

    def acquire(self, n: float = 1.0) -> float:
        """Block until ``n`` tokens are available; returns seconds slept."""
        slept = 0.0
        while True:
            with self._lock:
                now = time.monotonic()
                self._tokens = min(
                    self.capacity, self._tokens + (now - self._last) * self.rate
                )
                self._last = now
                if self._tokens >= n:
                    self._tokens -= n
                    return slept
                wait = (n - self._tokens) / self.rate
            time.sleep(wait)
            slept += wait


def fetch_pages_distributed(
    spark: SparkSession,
    make_transport: Callable[[], Transport],
    url: str,
    num_pages: int,
    schema: StructType = MOVIE_SCHEMA,
    partitions: int | None = None,
    requests_per_sec: float | None = None,
) -> DataFrame:
    """Executor-side page fetch: parallelize page ids, fetch per
    partition via mapInArrow. ``make_transport`` must be picklable
    (e.g. a module-level factory) — each executor builds its own
    session. Each page's records go through ``_records_table``, the
    same verifier and Arrow builder as the driver path, so a bigint
    stays exact next to a NULL and a mistyped value is rejected.

    Rate limiting (D2): ``requests_per_sec`` is the GLOBAL ceiling;
    each task runs a token bucket at ``requests_per_sec /
    max_concurrent_tasks`` so the fleet-wide rate holds no matter how
    many executors fetch at once (tasks never coordinate — the
    division is the coordination, and it stays correct as executors
    scale because the scheduler caps concurrent tasks at the partition
    count)."""
    pages = spark.range(1, num_pages + 1).withColumnRenamed("id", "page")
    if partitions:
        pages = pages.repartition(partitions)
    n_tasks = partitions or pages.rdd.getNumPartitions()
    per_task_rate = (
        requests_per_sec / max(1, n_tasks) if requests_per_sec else None
    )

    def fetch(batches):
        transport = make_transport()
        bucket = (
            TokenBucket(per_task_rate, capacity=1.0) if per_task_rate else None
        )
        for batch in batches:
            out = []
            for page in batch.column("page").to_pylist():
                if bucket is not None:
                    bucket.acquire()
                payload = transport(url, {"page": page})
                out.extend(payload.get("results", []))
            yield from _records_table(out, schema).to_batches()

    return pages.mapInArrow(fetch, schema)


def clean_movies(df: DataFrame) -> DataFrame:
    """Reference transform parity (themovies.py:64-75) minus its bugs:
    ALL rows survive (§2.13.1), ``genre_ids`` stays a native array
    (P2/F1 are export-boundary concerns), ``release_date`` becomes a
    real DATE, audit column stamped (P1)."""
    return (
        df.withColumn(
            "release_date",
            F.when(F.col("release_date") == "", None).otherwise(
                F.col("release_date")
            ).cast("date"),
        )
        .withColumn("record_loaded_at", F.current_timestamp())
    )
