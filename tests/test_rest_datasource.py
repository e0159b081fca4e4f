"""Spark 4 Python DataSource tests (offline, synthetic transport)."""

from __future__ import annotations

import pytest

from the_movies_db_spark.sources.rest_datasource import (
    SYNTHETIC_PAGE_SIZE,
    SYNTHETIC_TOTAL_PAGES,
    PaginatedRestDataSource,
    PaginatedRestReader,
    TokenBucket,
    synthetic_transport,
)

ALL_IDS = list(range(SYNTHETIC_TOTAL_PAGES * SYNTHETIC_PAGE_SIZE))


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(PaginatedRestDataSource)
    return spark


def _load(spark, **opts):
    reader = spark.read.format("paginated_rest").option(
        "url", "https://example.test/movie/popular"
    ).option("transport", "synthetic")
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


def test_batch_reads_all_pages(registered):
    df = _load(registered, num_pages=10, pages_per_partition=2)
    rows = df.collect()
    # total_pages=5 bounds the synthetic feed even though num_pages=10
    assert len(rows) == SYNTHETIC_TOTAL_PAGES * SYNTHETIC_PAGE_SIZE
    assert sorted(r.id for r in rows) == ALL_IDS
    first = rows[0]
    assert isinstance(first.genre_ids, list)  # native array, not JSON string


def test_partition_planning():
    reader = PaginatedRestReader(
        PaginatedRestDataSource(options={}).schema(),
        {"url": "u", "num_pages": "10", "pages_per_partition": "3"},
    )
    parts = reader.partitions()
    assert [(p.start, p.end) for p in parts] == [(1, 3), (4, 6), (7, 9), (10, 10)]


def test_pushdown_projection(registered):
    df = _load(registered, num_pages=2).select("id", "title")
    assert df.columns == ["id", "title"]
    assert df.count() == 2 * SYNTHETIC_PAGE_SIZE


def _stream(spark, **opts):
    reader = spark.readStream.format("paginated_rest").option(
        "url", "https://example.test/movie/popular"
    ).option("transport", "synthetic")
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


def test_stream_reader_pages_as_offsets(registered, tmp_path):
    stream = _stream(registered, num_pages=3, pages_per_partition=2)
    q = (
        stream.writeStream.format("memory")
        .queryName("rest_stream_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = registered.table("rest_stream_test").collect()
    # availableNow drains every page up to num_pages, each once
    assert sorted(r.id for r in out) == list(range(3 * SYNTHETIC_PAGE_SIZE))


def test_stream_restart_reads_every_page_once(registered, tmp_path):
    """Two ``availableNow`` runs on one checkpoint: the first reads the
    whole feed, the restart resumes at the checkpointed offset and
    reads nothing again."""
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    for _ in range(2):
        q = (
            _stream(registered, num_pages=10, pages_per_partition=2)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    ids = [r.id for r in registered.read.parquet(sink).collect()]
    assert sorted(ids) == ALL_IDS


def test_synthetic_transport_shape():
    t = synthetic_transport()
    p1 = t("u", {"page": 1})
    assert p1["total_pages"] == SYNTHETIC_TOTAL_PAGES
    assert len(p1["results"]) == SYNTHETIC_PAGE_SIZE
    assert t("u", {"page": 99})["results"] == []


def test_token_bucket_enforces_rate():
    """A bucket at r tokens/sec with capacity 1 admits n requests in no
    less than (n-1)/r seconds."""
    import time as _t

    bucket = TokenBucket(rate=50.0, capacity=1.0)
    t0 = _t.monotonic()
    for _ in range(11):
        bucket.acquire()
    elapsed = _t.monotonic() - t0
    assert elapsed >= 10 / 50.0  # 11 requests, 10 refill intervals
    assert elapsed < 2.0  # and it doesn't over-throttle
