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
- **one page loop, one record builder, two fetch shapes**:
  ``fetch_all_endpoints`` fetches on the driver (fine for ≤10k
  rows/endpoint — the reference's actual scale); the ``paginated_rest``
  DataSource (``rest_datasource.py``) fetches page ranges on executors,
  the shape you'd use for millions of pages. Both page through
  ``fetch_pages`` and build records with ``_records_table``.

Arrow-native ingest: ``_records_table`` first runs Spark's own row
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
    first: int = 1,
) -> Iterable[dict]:
    """Yield record dicts across pages ``first``..``max_pages``: the one
    page loop of the package. Termination: ``total_pages`` from the
    payload when present, else ``max_pages`` (never error-driven —
    reference bug §2.13.6). Per-page retry (D3)."""
    page = first
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


def fetch_all_endpoints(
    spark: SparkSession,
    transport: Transport,
    endpoints: Sequence[str] = ENDPOINTS,
    schema: StructType = MOVIE_SCHEMA,
    base_url: str = BASE_URL,
    **kwargs,
) -> DataFrame:
    """Driver-side fetch with per-endpoint fan-out (reference D1 dynamic
    task mapping, themovies.py:133-148) → one DataFrame tagged by a
    non-nullable ``endpoint`` column. Each endpoint's pages
    (:func:`fetch_pages`, which gets ``**kwargs``) become one Arrow
    table (:func:`_records_table`); the tables are concatenated and
    handed to Spark in a single ``createDataFrame``, so the batch
    enters the plan as one ``LocalRelation``."""
    tag = StructField("endpoint", StringType(), nullable=False)
    tables = []
    for e in endpoints:
        rows = list(fetch_pages(transport, f"{base_url}/{e}", **kwargs))
        if not rows:  # reference P8 empty-input guard (themovies.py:60-61)
            raise ValueError(f"no rows returned for endpoint {e!r}")
        t = _records_table(rows, schema)
        tables.append(t.append_column(tag.name, pa.array([e] * t.num_rows, pa.string())))
    return spark.createDataFrame(
        pa.concat_tables(tables), StructType([*schema.fields, tag])
    )


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
