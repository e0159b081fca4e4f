"""Seeded inputs and the SCD-1 expected-state model for the benchmark.

Pure Python, no Spark: the generators describe a simulated movie API
(its pages and change batches) and :class:`Scd1Model` replays only what
the generators emit, so the expected table state never depends on the
program under test.
"""

from __future__ import annotations

import datetime as dt
import math
import random
from collections.abc import Iterable, Iterator, Sequence

ENDPOINTS = ("popular", "top_rated", "now_playing", "upcoming")
PAGES_PER_ENDPOINT = 125
ROWS_PER_PAGE = 20
BASE_ROWS = 85_000
NEW_PER_DAY = 3_500
EXISTING_PER_DAY = 5_000
CHANGED_SHARE = 0.4
# From this day index on, pages carry DRIFT_FIELD and the fetch schema
# declares it, so the merge has to evolve the target schema.
DRIFT_DAY = 3
DRIFT_FIELD = "origin_country"

CDC_BATCH_ROWS = 200
CDC_MIX = {"update": 120, "noop": 40, "null_flip": 30, "insert": 10}
CDC_STAMP_BASE = dt.datetime(2030, 1, 1)

FIELDS = (
    "id", "title", "original_title", "original_language", "overview",
    "release_date", "genre_ids", "popularity", "vote_average", "vote_count",
    "adult", "video", "poster_path", "backdrop_path",
)
_LANGS = ("en", "fr", "es", "de", "ja", "ko", "hi", "it")
_COUNTRIES = ("US", "GB", "FR", "DE", "JP", "KR", "IN", "ES", "IT", "CA")
_WORDS = (
    "night", "river", "empire", "last", "summer", "code", "ghost", "city",
    "storm", "garden", "iron", "silent", "road", "dream", "winter", "star",
)


def tail_percentile(n_ops: int, beyond: int = 10) -> int | None:
    """Highest whole percentile with at least ``beyond`` ops above it.

    ``None`` when the run has too few ops for any such percentile."""
    if n_ops <= beyond:
        return None
    return math.floor(100 * (n_ops - beyond) / n_ops)


def percentile(values: Sequence[float], pct: float) -> float:
    """Nearest-rank percentile (``pct`` in 0..100) of ``values``."""
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100 * len(ordered)))
    return ordered[rank - 1]


def _country(movie_id: int) -> list[str]:
    # Deterministic per id, so a record that gained the field keeps it.
    return [_COUNTRIES[movie_id % len(_COUNTRIES)], _COUNTRIES[movie_id % 7]]


class _Pools:
    """Seeded pools of text and genre values; records draw from them."""

    def __init__(self, rng: random.Random, size: int = 4096):
        self.titles = [" ".join(rng.choices(_WORDS, k=rng.randint(1, 4))).title()
                       for _ in range(size)]
        self.overviews = [" ".join(rng.choices(_WORDS, k=rng.randint(8, 30)))
                          for _ in range(size)]
        self.genres = [sorted(rng.sample(range(1, 40), rng.randint(0, 4)))
                       for _ in range(size)]
        self.dates = [f"{rng.randint(1950, 2026)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
                      for _ in range(size)]


def _new_record(rng: random.Random, pools: _Pools, movie_id: int) -> dict:
    r = rng.random
    n = len(pools.titles)
    title = pools.titles[int(r() * n)]
    return {
        "id": movie_id,
        "title": title,
        "original_title": title,
        "original_language": _LANGS[int(r() * len(_LANGS))],
        "overview": pools.overviews[int(r() * n)],
        "release_date": "" if r() < 0.05 else pools.dates[int(r() * n)],
        "genre_ids": list(pools.genres[int(r() * n)]),
        "popularity": round(0.5 + r() * 899.5, 3),
        "vote_average": round(1.0 + r() * 8.5, 1),
        "vote_count": int(r() * 40_000),
        "adult": r() < 0.02,
        "video": r() < 0.05,
        "poster_path": None if r() < 0.1 else f"/p{movie_id}.jpg",
        "backdrop_path": None if r() < 0.1 else f"/b{movie_id}.jpg",
    }


def _bump(rng: random.Random, rec: dict) -> dict:
    out = dict(rec)
    out["vote_count"] = rec["vote_count"] + rng.randint(1, 500)
    out["popularity"] = round(rec["popularity"] * rng.uniform(0.8, 1.25) + 0.001, 3)
    return out


def _null_flip(rng: random.Random, rec: dict) -> dict:
    """Change exactly one nullable column value↔NULL."""
    out = dict(rec)
    col = rng.choice(("poster_path", "backdrop_path", "overview"))
    out[col] = None if rec[col] is not None else f"/{col[0]}{rec['id']}r.jpg"
    return out


class MovieApi:
    """The simulated API's view of every movie; emits daily pages."""

    def __init__(self, seed: int, base_rows: int = BASE_ROWS):
        self.rng = random.Random(f"movies-{seed}")
        self.pools = _Pools(self.rng)
        self.next_id = 1
        self.world: dict[int, dict] = {}
        self.ids: list[int] = []
        for _ in range(base_rows):
            self._insert()

    def _insert(self) -> dict:
        movie_id = self.next_id
        self.next_id += 1
        rec = _new_record(self.rng, self.pools, movie_id)
        self.world[movie_id] = rec
        self.ids.append(movie_id)
        return rec

    def base_records(self) -> list[dict]:
        return [self.world[i] for i in self.ids]

    def day_pages(self, day: int) -> dict[str, list[dict]]:
        """One day of pages: ``{endpoint: [page payload, ...]}``.

        The day's rows are NEW_PER_DAY new movies plus EXISTING_PER_DAY
        existing ones (CHANGED_SHARE of them changed, a tenth of those by
        a value↔NULL flip); the remaining slots repeat rows of the day,
        so endpoints overlap and the in-batch dedup has work."""
        rng = self.rng
        drift = day >= DRIFT_DAY
        existing = rng.sample(self.ids, EXISTING_PER_DAY)
        rows = []
        for movie_id in existing:
            rec = self.world[movie_id]
            if rng.random() < CHANGED_SHARE:
                rec = _null_flip(rng, rec) if rng.random() < 0.1 else _bump(rng, rec)
            if drift:
                rec = {**rec, DRIFT_FIELD: _country(movie_id)}
            self.world[movie_id] = rec
            rows.append(rec)
        for _ in range(NEW_PER_DAY):
            rec = self._insert()
            if drift:
                rec = self.world[rec["id"]] = {**rec, DRIFT_FIELD: _country(rec["id"])}
            rows.append(rec)
        total = len(ENDPOINTS) * PAGES_PER_ENDPOINT * ROWS_PER_PAGE
        rows.extend(rng.choice(rows) for _ in range(total - len(rows)))
        rng.shuffle(rows)
        pages: dict[str, list[dict]] = {}
        for e_idx, endpoint in enumerate(ENDPOINTS):
            pages[endpoint] = []
            for p in range(PAGES_PER_ENDPOINT):
                start = (e_idx * PAGES_PER_ENDPOINT + p) * ROWS_PER_PAGE
                pages[endpoint].append({
                    "page": p + 1,
                    "total_pages": PAGES_PER_ENDPOINT,
                    "results": rows[start:start + ROWS_PER_PAGE],
                })
        return pages

    def cdc_batch(self, op: int) -> list[dict]:
        """One change batch of CDC_BATCH_ROWS distinct ids, each row
        stamped ``cdc_stamp(op)`` (dates as ``datetime.date``)."""
        rng = self.rng
        picked = rng.sample(self.ids, CDC_BATCH_ROWS - CDC_MIX["insert"])
        kinds = (["update"] * CDC_MIX["update"] + ["noop"] * CDC_MIX["noop"]
                 + ["null_flip"] * CDC_MIX["null_flip"])
        rows = []
        for movie_id, kind in zip(picked, kinds):
            rec = self.world[movie_id]
            if kind == "update":
                rec = _bump(rng, rec)
            elif kind == "null_flip":
                rec = _null_flip(rng, rec)
            self.world[movie_id] = rec
            rows.append(rec)
        rows.extend(self._insert() for _ in range(CDC_MIX["insert"]))
        rng.shuffle(rows)
        stamp = cdc_stamp(op)
        return [{**r, "release_date": as_date(r["release_date"]),
                 "record_loaded_at": stamp} for r in rows]


def cdc_stamp(op: int) -> dt.datetime:
    return CDC_STAMP_BASE + dt.timedelta(seconds=op)


def as_date(value: str | None) -> dt.date | None:
    """The clean step's ``release_date`` rule: "" and NULL become NULL."""
    return dt.date.fromisoformat(value) if value else None


class FixturePages:
    """Transport serving pre-generated page payloads (``(url, params) -> dict``)."""

    def __init__(self, pages: dict[str, list[dict]]):
        self.pages = pages
        self.calls = 0

    def __call__(self, url: str, params: dict) -> dict:
        self.calls += 1
        return self.pages[url.rsplit("/", 1)[1]][params["page"] - 1]


class Scd1Model:
    """Expected state of an SCD-1 table keyed on ``id``.

    Values are compared after the clean step's normalisation; a record
    missing a column compares as NULL there, like a merge that aligns
    both sides onto the evolved schema. Repeats of an id within one
    batch must be identical rows (the generators only repeat rows), so
    which copy the program's in-batch dedup keeps cannot matter."""

    def __init__(self, records: Iterable[dict] = ()):
        self.rows: dict[int, dict] = {}
        self.vote_sum = 0
        self.columns: set[str] = set(FIELDS)
        self.apply(records)

    def copy(self) -> Scd1Model:
        """An independent model in the same state (rows are never mutated)."""
        out = Scd1Model()
        out.rows = dict(self.rows)
        out.vote_sum = self.vote_sum
        out.columns = set(self.columns)
        return out

    @staticmethod
    def _norm(rec: dict) -> dict:
        out = {k: v for k, v in rec.items() if k != "record_loaded_at"}
        if isinstance(out.get("release_date"), str):
            out["release_date"] = as_date(out["release_date"])
        return out

    def _same(self, old: dict, new: dict) -> bool:
        return all(old.get(c) == new.get(c) for c in self.columns)

    def apply(self, records: Iterable[dict]) -> dict:
        """Merge one batch; returns its counts.

        ``batch_rows`` counts rows offered, ``distinct`` keys after the
        in-batch dedup, then ``inserted``, ``changed`` and ``noop``."""
        batch: dict[int, dict] = {}
        offered = 0
        for rec in records:
            offered += 1
            batch[rec["id"]] = self._norm(rec)
        for rec in batch.values():
            self.columns.update(rec)
        inserted = changed = 0
        for movie_id, rec in batch.items():
            old = self.rows.get(movie_id)
            if old is None:
                inserted += 1
            elif not self._same(old, rec):
                changed += 1
            else:
                continue
            self.vote_sum += rec["vote_count"] - (old["vote_count"] if old else 0)
            self.rows[movie_id] = rec
        return {
            "batch_rows": offered,
            "distinct": len(batch),
            "inserted": inserted,
            "changed": changed,
            "noop": len(batch) - inserted - changed,
        }

    def expected(self, stamped: int) -> dict:
        return {"rows": len(self.rows), "vote_sum": self.vote_sum, "stamped": stamped}


def day_records(pages: dict[str, list[dict]]) -> Iterator[dict]:
    for endpoint_pages in pages.values():
        for payload in endpoint_pages:
            yield from payload["results"]
