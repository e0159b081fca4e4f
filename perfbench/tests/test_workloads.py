"""Tests of the benchmark's own logic: tail rule, SCD-1 model, seeded inputs.

Run from the root of a checkout: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import datetime as dt
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import workloads as W  # noqa: E402


# -- op_tail_s percentile rule ---------------------------------------------------

@pytest.mark.parametrize("n, pct", [(11, 9), (20, 50), (25, 60), (100, 90), (200, 95)])
def test_tail_percentile_examples(n, pct):
    assert W.tail_percentile(n) == pct


@pytest.mark.parametrize("n", [0, 1, 5, 10])
def test_tail_percentile_undefined_without_ten_ops_beyond(n):
    assert W.tail_percentile(n) is None


def test_tail_percentile_is_highest_with_ten_beyond():
    for n in range(11, 400):
        values = list(range(n))
        pct = W.tail_percentile(n)
        assert sum(v > W.percentile(values, pct) for v in values) >= 10
        if pct < 100:
            assert sum(v > W.percentile(values, pct + 1) for v in values) < 10


# -- SCD-1 expected-state model ----------------------------------------------------

def _rec(movie_id, votes, poster="/p.jpg", date="2020-01-01", **extra):
    rec = dict.fromkeys(W.FIELDS)
    rec.update(id=movie_id, title=f"m{movie_id}", vote_count=votes,
               poster_path=poster, release_date=date, genre_ids=[1])
    rec.update(extra)
    return rec


def test_scd1_model_three_days_by_hand():
    model = W.Scd1Model([_rec(1, 10), _rec(2, 20, poster=None), _rec(3, 30, date="")])
    assert model.expected(0) == {"rows": 3, "vote_sum": 60, "stamped": 0}

    # Day 1: 1 unchanged, 2 gains votes, 4 is new and offered twice.
    day1 = [_rec(1, 10), _rec(2, 25, poster=None), _rec(4, 40), _rec(4, 40)]
    assert model.apply(day1) == {
        "batch_rows": 4, "distinct": 3, "inserted": 1, "changed": 1, "noop": 1,
    }
    assert model.expected(2) == {"rows": 4, "vote_sum": 105, "stamped": 2}

    # Day 2: NULL -> value on 2 is a change; "" -> NULL release date on 3
    # is not (the clean step maps both to NULL); 1 goes value -> NULL.
    day2 = [_rec(2, 25, poster="/new.jpg"), _rec(3, 30, date=None), _rec(1, 10, poster=None)]
    counts = model.apply(day2)
    assert (counts["inserted"], counts["changed"], counts["noop"]) == (0, 2, 1)
    assert model.expected(2) == {"rows": 4, "vote_sum": 105, "stamped": 2}

    # Day 3: an added column; a row that gains it changed, one without
    # it compares NULL with NULL and stays; 5 is new.
    day3 = [_rec(1, 10, poster=None, origin_country=["US"]), _rec(4, 40), _rec(5, 7)]
    counts = model.apply(day3)
    assert (counts["inserted"], counts["changed"], counts["noop"]) == (1, 1, 1)
    assert model.expected(2) == {"rows": 5, "vote_sum": 112, "stamped": 2}
    assert "origin_country" in model.columns
    assert model.rows[1]["origin_country"] == ["US"]
    assert model.rows[3]["release_date"] is None


def test_scd1_model_dates_compare_after_clean():
    model = W.Scd1Model([_rec(1, 1, date="2021-05-06")])
    same = {**_rec(1, 1), "release_date": dt.date(2021, 5, 6)}
    assert model.apply([same])["noop"] == 1


# -- seeded inputs ---------------------------------------------------------------

def _small_api(seed):
    return W.MovieApi(seed, base_rows=W.EXISTING_PER_DAY + 100)


def test_same_seed_same_inputs():
    a, b = _small_api(7), _small_api(7)
    assert a.base_records() == b.base_records()
    assert a.day_pages(0) == b.day_pages(0)
    assert a.cdc_batch(1) == b.cdc_batch(1)


def test_other_seed_other_inputs():
    a, b = _small_api(7), _small_api(8)
    assert a.base_records() != b.base_records()
    assert a.day_pages(0) != b.day_pages(0)
    assert a.cdc_batch(1) != b.cdc_batch(1)


def test_day_pages_shape_and_overlap():
    api = _small_api(3)
    known = set(api.ids)
    pages = api.day_pages(0)
    assert list(pages) == list(W.ENDPOINTS)
    assert all(len(p) == W.PAGES_PER_ENDPOINT for p in pages.values())
    rows = list(W.day_records(pages))
    assert len(rows) == len(W.ENDPOINTS) * W.PAGES_PER_ENDPOINT * W.ROWS_PER_PAGE
    ids = {r["id"] for r in rows}
    assert len(ids) == W.NEW_PER_DAY + W.EXISTING_PER_DAY  # the rest are repeats
    assert len(ids & known) == W.EXISTING_PER_DAY
    assert all(W.DRIFT_FIELD not in r for r in rows)
    for day in range(1, W.DRIFT_DAY + 1):
        pages = api.day_pages(day)
    assert all(W.DRIFT_FIELD in r for r in W.day_records(pages))


def test_cdc_batch_mix_against_model():
    api = _small_api(5)
    model = W.Scd1Model(api.base_records())
    batch = api.cdc_batch(4)
    assert len(batch) == W.CDC_BATCH_ROWS
    assert {r["record_loaded_at"] for r in batch} == {W.cdc_stamp(4)}
    counts = model.apply(batch)
    assert counts["inserted"] == W.CDC_MIX["insert"]
    assert counts["noop"] == W.CDC_MIX["noop"]
    assert counts["changed"] == W.CDC_MIX["update"] + W.CDC_MIX["null_flip"]


def test_fixture_pages_drive_the_source_pagination():
    from the_movies_db_spark.sources.rest_api import fetch_pages

    pages = _small_api(2).day_pages(0)
    transport = W.FixturePages(pages)
    rows = list(fetch_pages(transport, "https://api.example/3/movie/popular"))
    assert len(rows) == W.PAGES_PER_ENDPOINT * W.ROWS_PER_PAGE
    assert transport.calls == W.PAGES_PER_ENDPOINT
