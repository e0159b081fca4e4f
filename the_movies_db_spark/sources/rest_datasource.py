"""Spark 4 Python DataSource for paginated REST APIs (SURVEY §2.1 S1).

The executor-side fetch: a custom ``DataSource`` registered under the
format name ``paginated_rest``, so the reference's extract
(reference ``dags/flows/themovies.py:16-49``) becomes

    spark.dataSource.register(PaginatedRestDataSource)
    df = (spark.read.format("paginated_rest")
          .option("url", ".../movie/popular")
          .option("num_pages", 50)
          .option("pages_per_partition", 10)
          .option("requests_per_sec", 20)   # optional global ceiling
          .load())

Why this shape at scale:

- **Partition planning** happens in ``partitions()``: page ranges are
  split into input partitions, so a 1000-executor cluster fetches
  disjoint page ranges concurrently — the Spark-native version of the
  reference's Airflow dynamic task mapping (D1, themovies.py:133-148).
- **One page loop, one record builder**: each partition pages through
  ``rest_api.fetch_pages`` (per-page retry, ``total_pages`` stop) and
  yields its records as Arrow record batches built by
  ``rest_api._records_table``, so every row passes Spark's row verifier
  exactly as on the driver path (``fetch_all_endpoints``).
- **Global rate limit** (D2): ``requests_per_sec`` is the fleet-wide
  ceiling; each task throttles to its share, ``requests_per_sec`` over
  the number of partitions the planner made (tasks never coordinate —
  the division is the coordination).
- **Streaming variant**: the page number is the stream offset. The
  latest offset is the page after ``num_pages``, so a micro-batch reads
  every page not yet committed, split by the same planner, and a
  restart resumes from the checkpointed offset (the reference faked
  incrementality with daily full re-pulls + MERGE).

Transport selection is by name (executors can only receive string
options): ``transport="synthetic"`` is the deterministic offline
fixture generator; ``transport="requests"`` is the real HTTP client;
``transport="module:path.to.factory"`` imports a zero-arg factory —
tests and production both inject through the same seam.
"""

from __future__ import annotations

import importlib
import threading
import time
from collections.abc import Iterator, Sequence

import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from the_movies_db_spark.sources.rest_api import (
    MOVIE_SCHEMA,
    Transport,
    _records_table,
    fetch_pages,
    requests_transport,
)

SYNTHETIC_TOTAL_PAGES = 5
SYNTHETIC_PAGE_SIZE = 4


def synthetic_transport() -> Transport:
    """Offline fixture transport: deterministic movie pages (page-keyed
    ids/titles), ``total_pages``-bounded like the real API."""

    def call(url: str, params: dict) -> dict:
        page = int(params.get("page", 1))
        if page > SYNTHETIC_TOTAL_PAGES:
            return {"results": [], "total_pages": SYNTHETIC_TOTAL_PAGES}
        base = (page - 1) * SYNTHETIC_PAGE_SIZE
        return {
            "page": page,
            "total_pages": SYNTHETIC_TOTAL_PAGES,
            "results": [
                {
                    "id": base + i,
                    "title": f"Movie {base + i}",
                    "original_title": f"Movie {base + i}",
                    "original_language": "en",
                    "overview": f"Synthetic movie {base + i} from {url}",
                    "release_date": "2024-01-01",
                    "genre_ids": [base % 7, (base + i) % 11],
                    "popularity": round(1.0 + (base + i) * 0.5, 2),
                    "vote_average": round(((base + i) % 10) + 0.5, 1),
                    "vote_count": 100 + base + i,
                    "adult": False,
                    "video": False,
                    "poster_path": f"/p{base + i}.jpg",
                    "backdrop_path": f"/b{base + i}.jpg",
                }
                for i in range(SYNTHETIC_PAGE_SIZE)
            ],
        }

    return call


def resolve_transport(name: str) -> Transport:
    if name == "synthetic":
        return synthetic_transport()
    if name == "requests":
        return requests_transport()
    if name.startswith("module:"):
        mod_path, _, attr = name[len("module:") :].rpartition(".")
        factory = getattr(importlib.import_module(mod_path), attr)
        return factory()
    raise ValueError(f"unknown transport {name!r}")


class TokenBucket:
    """Thread-safe token-bucket rate limiter (the D2 throttle done
    properly): ``rate`` tokens/sec refill up to ``capacity``;
    ``acquire`` blocks until a token is available. Monotonic clock, so
    wall-clock jumps can't mint tokens."""

    def __init__(self, rate: float, capacity: float | None = None):
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


def _throttled(transport: Transport, rate: float) -> Transport:
    """``transport`` limited to ``rate`` requests/sec."""
    bucket = TokenBucket(rate, capacity=1.0)

    def call(url: str, params: dict) -> dict:
        bucket.acquire()
        return transport(url, params)

    return call


class PageRange(InputPartition):
    """Pages ``[start, end]`` (inclusive), fetched at most ``rate``
    requests/sec (``None``: unthrottled)."""

    def __init__(self, start: int, end: int, rate: float | None):
        self.start = start
        self.end = end
        self.rate = rate


class PaginatedRestReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema_ = schema
        self.url = options["url"]
        self.transport_name = options.get("transport", "requests")
        self.num_pages = int(options.get("num_pages", 500))
        self.pages_per_partition = int(options.get("pages_per_partition", 25))
        rate = options.get("requests_per_sec")
        self.requests_per_sec = float(rate) if rate else None

    def _plan(self, first: int, last: int) -> list[PageRange]:
        """Split pages ``[first, last]`` into ranges of
        ``pages_per_partition``; each range's task gets an equal share
        of ``requests_per_sec``."""
        starts = range(first, last + 1, self.pages_per_partition)
        rate = self.requests_per_sec / max(1, len(starts)) if self.requests_per_sec else None
        return [
            PageRange(s, min(s + self.pages_per_partition - 1, last), rate)
            for s in starts
        ]

    def partitions(self) -> Sequence[InputPartition]:
        return self._plan(1, self.num_pages)

    def read(self, partition: PageRange) -> Iterator[pa.RecordBatch]:
        transport = resolve_transport(self.transport_name)
        if partition.rate:
            transport = _throttled(transport, partition.rate)
        rows = list(fetch_pages(transport, self.url, partition.end, first=partition.start))
        yield from _records_table(rows, self.schema_).to_batches()


class PaginatedRestStreamReader(DataSourceStreamReader):
    """Page number as stream offset. The latest offset is the page after
    ``num_pages``, so each micro-batch reads every page not yet
    committed, planned and read by the batch reader. Offsets are
    checkpointed by the engine, so a restart resumes after the last
    committed page."""

    def __init__(self, schema: StructType, options: dict):
        self.batch = PaginatedRestReader(schema, options)

    def initialOffset(self) -> dict:
        return {"next_page": 1}

    def latestOffset(self) -> dict:
        return {"next_page": self.batch.num_pages + 1}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        return self.batch._plan(start["next_page"], end["next_page"] - 1)

    def read(self, partition: PageRange) -> Iterator[pa.RecordBatch]:
        return self.batch.read(partition)

    def commit(self, end: dict) -> None:
        pass


class PaginatedRestDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "paginated_rest"

    def schema(self) -> StructType:
        return MOVIE_SCHEMA

    def reader(self, schema: StructType) -> PaginatedRestReader:
        return PaginatedRestReader(schema, self.options)

    def streamReader(self, schema: StructType) -> PaginatedRestStreamReader:
        return PaginatedRestStreamReader(schema, self.options)
