"""Paginated REST source tests with an injected fixture transport
(SURVEY §5: bounded pagination, error paths, retry, fan-out, clean).

The executor-side cases read through the ``paginated_rest`` DataSource,
which builds its transport on each executor from a module-level factory
named in the ``transport`` option (``module:tests.test_rest_api.<f>``)."""

from __future__ import annotations

import pytest

from the_movies_db_spark.sources import rest_api as R


def _movie(i: int) -> dict:
    return {
        "id": i,
        "title": f"Movie {i}",
        "original_title": f"Movie {i}",
        "original_language": "en",
        "overview": "o",
        "release_date": "2024-01-15" if i % 3 else "",
        "genre_ids": [1, 2] if i % 2 else [],
        "popularity": float(i),
        "vote_average": 7.5,
        "vote_count": i * 10,
        "adult": False,
        "video": False,
        "poster_path": None if i % 5 == 0 else f"/p{i}.jpg",
        "backdrop_path": None,
    }


def fixture_transport(n_pages: int = 3, per_page: int = 4, fail_first: int = 0):
    calls = {"n": 0, "failures": 0}

    def call(url: str, params: dict) -> dict:
        calls["n"] += 1
        if calls["failures"] < fail_first:
            calls["failures"] += 1
            raise R.ApiError("transient")
        page = params["page"]
        base = (page - 1) * per_page
        return {
            "page": page,
            "total_pages": n_pages,
            "results": [_movie(base + j) for j in range(per_page)],
        }

    call.calls = calls
    return call


def test_bounded_pagination_honors_total_pages():
    rows = list(fetch := R.fetch_pages(fixture_transport(3, 4), "u"))
    assert len(rows) == 12


def test_max_pages_caps_before_total():
    rows = list(R.fetch_pages(fixture_transport(500, 2), "u", max_pages=5))
    assert len(rows) == 10


def test_retry_then_success():
    t = fixture_transport(1, 2, fail_first=1)
    rows = list(R.fetch_pages(t, "u", retries=1, retry_delay_s=0))
    assert len(rows) == 2


def test_retry_exhaustion_raises():
    t = fixture_transport(1, 2, fail_first=5)
    with pytest.raises(R.ApiError):
        list(R.fetch_pages(t, "u", retries=2, retry_delay_s=0))


def _popular(spark, transport, **kwargs):
    return R.fetch_all_endpoints(spark, transport, endpoints=("popular",), **kwargs)


def test_fetch_endpoint_df_typed(spark):
    df = _popular(spark, fixture_transport(2, 3))
    assert df.count() == 6
    assert dict(df.dtypes)["genre_ids"] == "array<int>"
    assert dict(df.dtypes)["id"] == "bigint"


def test_empty_endpoint_raises(spark):
    def empty(url, params):
        return {"page": 1, "total_pages": 1, "results": []}

    with pytest.raises(ValueError):
        _popular(spark, empty)


def test_fan_out_union_tags_endpoint(spark):
    df = R.fetch_all_endpoints(
        spark, fixture_transport(1, 2), endpoints=("popular", "upcoming")
    )
    assert df.count() == 4
    assert {r.endpoint for r in df.select("endpoint").distinct().collect()} == {
        "popular",
        "upcoming",
    }


def test_clean_movies_semantics(spark):
    df = _popular(spark, fixture_transport(1, 4))
    out = R.clean_movies(df)
    rows = {r.id: r for r in out.collect()}
    assert rows[0].release_date is None  # "" → NULL, not 1970-01-01
    assert rows[1].release_date is not None
    assert all(r.record_loaded_at is not None for r in rows.values())
    assert dict(out.dtypes)["release_date"] == "date"
    assert dict(out.dtypes)["genre_ids"] == "array<int>"  # stays native


def _paginated_rest(spark, factory: str, **options):
    from the_movies_db_spark.sources.rest_datasource import PaginatedRestDataSource

    spark.dataSource.register(PaginatedRestDataSource)
    reader = spark.read.format("paginated_rest").option("url", "u")
    reader = reader.option("transport", f"module:tests.test_rest_api.{factory}")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def four_pages():
    return fixture_transport(4, 3)


def eight_pages():
    return fixture_transport(8, 2)


def flaky_page():
    return fixture_transport(1, 2, fail_first=1)


def test_distributed_page_fetch(spark):
    df = _paginated_rest(spark, "four_pages", num_pages=4, pages_per_partition=2)
    assert df.count() == 12
    assert dict(df.dtypes)["id"] == "bigint"


def test_end_to_end_pipeline_parity(spark, tmp_path):
    """The reference's whole DAG (extract → transform → load/merge,
    themovies.py:133-150) as one lazy plan + upsert."""
    from the_movies_db_spark.upsert import write_upsert

    target = str(tmp_path / "movies")
    for _ in range(2):  # daily re-pull + MERGE, idempotent
        df = R.clean_movies(
            R.fetch_all_endpoints(spark, fixture_transport(2, 3))
        )
        write_upsert(spark, target, df.drop("endpoint"), pk="id")
    from the_movies_db_spark.upsert import read_table

    final = read_table(spark, target)
    assert final.count() == 6  # ids 0..5, once each


def test_distributed_fetch_respects_global_rate(spark):
    """With requests_per_sec set, the wall-clock for the whole fetch is
    bounded below by pages / global_rate (counting transport: every
    page is one request)."""
    import time as _t

    t0 = _t.monotonic()
    n = _paginated_rest(
        spark, "eight_pages", num_pages=8, pages_per_partition=4, requests_per_sec=4
    ).count()
    elapsed = _t.monotonic() - t0
    assert n == 16
    # 8 requests over 2 tasks at 2 req/s/task → ≥ (4-1)/2 = 1.5 s
    assert elapsed >= 1.5


def test_distributed_fetch_retries_a_failed_page(spark):
    """Each executor task pages through ``fetch_pages``, so a transient
    ``ApiError`` is retried instead of failing the read."""
    df = _paginated_rest(spark, "flaky_page", num_pages=1)
    assert sorted(r.id for r in df.collect()) == [0, 1]


def _single_page(results: list[dict]):
    def call(url: str, params: dict) -> dict:
        return {"page": params["page"], "total_pages": 1, "results": results}

    return call


def bigint_page():
    return _single_page([{"id": 1, "vote_count": None}, {"id": 2, "vote_count": 2**53 + 1}])


def test_distributed_fetch_keeps_bigint_next_to_null(spark):
    """A NULL on the same page must not turn the column into float64:
    2**53 + 1 has no exact double."""
    df = _paginated_rest(spark, "bigint_page", num_pages=1)
    assert sorted((r.id, r.vote_count) for r in df.collect()) == [
        (1, None),
        (2, 2**53 + 1),
    ]


def test_fan_out_enters_plan_as_one_local_relation(spark):
    df = R.fetch_all_endpoints(
        spark, fixture_transport(2, 3), endpoints=("popular", "upcoming")
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan
    assert "LogicalRDD" not in plan and "ExistingRDD" not in plan


def test_fan_out_matches_row_path(spark):
    """Same schema (nullability included) and rows as building each
    endpoint from Python rows and unioning, on pages with NULLs, empty
    ``genre_ids``, a missing key and a schema-drift array field."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    drift = StructField("keywords", ArrayType(StringType()))
    schema = StructType([*R.MOVIE_SCHEMA.fields, drift])

    def page(url: str, params: dict) -> dict:
        ep = url.rsplit("/", 1)[1]
        rows = [
            {**_movie(i), "keywords": [ep, None] if i % 2 else []} for i in range(5)
        ]
        rows[0]["vote_count"] = None
        rows[1]["genre_ids"] = [None, 3]
        del rows[2]["keywords"]
        return {"page": 1, "total_pages": 1, "results": rows}

    endpoints = ("popular", "upcoming")
    got = R.fetch_all_endpoints(spark, page, endpoints=endpoints, schema=schema)

    ref = None
    for e in endpoints:
        rows = page(f"u/{e}", {"page": 1})["results"]
        df = spark.createDataFrame(
            [{f.name: r.get(f.name) for f in schema.fields} for r in rows], schema
        ).withColumn("endpoint", F.lit(e))
        ref = df if ref is None else ref.unionByName(df)

    assert got.schema == ref.schema
    key = lambda r: (r.endpoint, r.id)  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(ref.collect(), key=key)


_MISTYPED = [{"id": 1.5}, {"id": 1, "vote_count": "12"}, {"id": 1, "adult": 1}]


def mistyped_page():
    """Page of ``u/<i>``: a good record, then ``_MISTYPED[i]``."""

    def call(url: str, params: dict) -> dict:
        bad = _MISTYPED[int(url.rsplit("/", 1)[1])]
        return _single_page([{"id": 0}, bad])(url, params)

    return call


@pytest.mark.parametrize("bad", _MISTYPED)
@pytest.mark.parametrize(
    "fetch",
    [_popular],
    ids=["fan_out"],
)
def test_mistyped_record_is_rejected(spark, fetch, bad):
    """A value the row path rejects is not coerced (1.5 must not load as 1)."""
    from pyspark.errors import PySparkTypeError

    with pytest.raises(PySparkTypeError):
        fetch(spark, _single_page([{"id": 0}, bad])).collect()


@pytest.mark.parametrize("bad", _MISTYPED)
def test_distributed_fetch_rejects_mistyped_record(spark, bad):
    """The executor path runs the same verifier as the driver path."""
    url = f"u/{_MISTYPED.index(bad)}"
    df = _paginated_rest(spark, "mistyped_page", url=url, num_pages=1)
    with pytest.raises(Exception, match="can not accept object"):
        df.collect()
