"""Third-leg tests for round-13 operators: planted ground truth and
independent re-derivations (the oracle pins Spark == DuckDB on the
shared formula; these pin the formula itself)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from the_movies_db_spark.operators.multimodal import numpy_pnm_decoder


class TestPnmDecoder:
    def test_planted_p6_with_comment_and_mixed_whitespace(self):
        """Hand-computed ground truth for a 2x2 RGB image whose header
        exercises comments, tabs and multi-space separators."""
        raster = bytes(range(12))
        blob = b"P6\n# planted fixture\n  2\t2\n255\n" + raster
        fmt, w, h, maxval, n, s, ws, mean = numpy_pnm_decoder(blob)
        assert (fmt, w, h, maxval, n) == ("P6", 2, 2, 255, 12)
        assert s == sum(range(12)) == 66
        assert ws == sum((i + 1) * i for i in range(12)) == 572
        assert mean == 66 * 1000 // 12

    def test_planted_p5_single_line_header(self):
        blob = b"P5 3 1 255 " + bytes([200, 0, 55])
        fmt, w, h, maxval, n, s, ws, mean = numpy_pnm_decoder(blob)
        assert (fmt, w, h, maxval, n) == ("P5", 3, 1, 255, 3)
        assert s == 255 and ws == 200 + 0 + 3 * 55
        assert mean == 255 * 1000 // 3

    def test_comment_between_every_token(self):
        blob = b"P5\n#a\n2\n#b\n1\n#c\n255\n" + bytes([1, 2])
        assert numpy_pnm_decoder(blob)[:5] == ("P5", 2, 1, 255, 2)

    def test_raster_may_begin_with_whitespace_byte(self):
        """Only ONE whitespace byte separates maxval from the raster —
        a raster whose first pixel is 0x20 (space) must NOT be eaten
        by a greedy whitespace skip."""
        blob = b"P5\n2 1\n255\n" + bytes([0x20, 7])
        fmt, w, h, maxval, n, s, ws, mean = numpy_pnm_decoder(blob)
        assert s == 0x20 + 7 and ws == 0x20 + 2 * 7

    def test_position_weight_catches_byte_swap(self):
        a = numpy_pnm_decoder(b"P5 2 1 255 " + bytes([3, 9]))
        b = numpy_pnm_decoder(b"P5 2 1 255 " + bytes([9, 3]))
        assert a[5] == b[5]  # plain sum is blind to the swap
        assert a[6] != b[6]  # the weighted sum is not

    def test_malformed_inputs_raise(self):
        with pytest.raises(ValueError, match="magic"):
            numpy_pnm_decoder(b"P4 2 2 255 0000")
        with pytest.raises(ValueError, match="truncated"):
            numpy_pnm_decoder(b"P5 4 4 255 " + bytes(15))
        with pytest.raises(ValueError, match="maxval"):
            numpy_pnm_decoder(b"P5 1 1 65535 " + bytes(2))
        with pytest.raises(ValueError, match="token"):
            numpy_pnm_decoder(b"P5 x 1 255 " + bytes(1))

    def test_tar_roundtrip_preserves_decode(self, spark):
        """End-to-end through the production path: pack planted PNM
        blobs into a ustar shard, walk it back, numpy-decode the
        payloads — features must equal direct decoding."""
        from the_movies_db_spark.operators.multimodal import (
            decode_pnm_batch,
            pack_tar_shards,
            parse_tar_shards,
        )

        blobs = [
            b"P6\n# c\n2 2\n255\n" + bytes(range(12)),
            b"P5 4 2 255 " + bytes([255] * 8),
        ]
        rows = [(0, i, f"{i:012d}.pnm", b) for i, b in enumerate(blobs)]
        df = spark.createDataFrame(
            rows, "shard_id int, doc_id long, member_name string, payload binary"
        )
        members = parse_tar_shards(
            pack_tar_shards(df.select("shard_id", "member_name", "payload"))
        ).select(
            F.expr("CAST(substring(member_name, 1, 12) AS BIGINT)").alias(
                "doc_id"
            ),
            "payload",
        )
        got = {
            (r.doc_id, r.fmt, r.n_samples, r.pix_sum, r.pix_wsum)
            for r in decode_pnm_batch(members, "doc_id", "payload").collect()
        }
        want = {
            (i, *[numpy_pnm_decoder(b)[k] for k in (0, 4, 5, 6)])
            for i, b in enumerate(blobs)
        }
        assert got == {(d, f, n, s, w) for d, f, n, s, w in want} == want


def test_mor_should_compact_policy(spark, tmp_path):
    """Cadence policy (probe_r13_mor.md): file-count OR byte-fraction
    trigger, filesystem-metadata only."""
    from the_movies_db_spark.upsert import (
        append_mor_delta,
        mor_should_compact,
        write_mor_base,
    )

    root = str(tmp_path / "morpol")
    write_mor_base(
        spark.createDataFrame(
            [(i, "x" * 200) for i in range(2000)], "pk long, v string"
        ),
        root,
    )
    assert not mor_should_compact(root)  # no deltas
    small = spark.createDataFrame([(1, "U", "y")], "pk long, __op string, v string")
    append_mor_delta(spark, root, small, "pk")
    assert not mor_should_compact(root)  # one tiny log
    assert mor_should_compact(root, max_files=1)  # file-count trigger
    big = spark.createDataFrame(
        [(i, "U", "z" * 200) for i in range(2000)], "pk long, __op string, v string"
    )
    append_mor_delta(spark, root, big, "pk")
    assert mor_should_compact(root)  # byte-fraction trigger


def test_waterfill_closed_form_equals_binary_search():
    """pipeline_token_budget_waterfill's water level L =
    max_i min((B - P_{i-1}) // (n-i+1), c_i) over ascending caps must
    equal the defining property: the largest integer L with
    sum(min(c, L)) <= B. Pure-integer property test (no Spark)."""
    import random

    def brute(caps, budget):
        lo, hi = 0, max(caps)
        if sum(min(c, hi) for c in caps) <= budget:
            return hi
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if sum(min(c, mid) for c in caps) <= budget:
                lo = mid
            else:
                hi = mid - 1
        return lo

    def closed(caps, budget):
        cs = sorted(caps)
        n, prefix, best = len(cs), 0, 0
        for i, c in enumerate(cs, start=1):
            best = max(best, min((budget - prefix) // (n - i + 1), c))
            prefix += c
        return best

    rng = random.Random(13)
    for _ in range(20000):
        caps = [rng.randint(0, 50) for _ in range(rng.randint(1, 8))]
        budget = rng.randint(0, sum(caps) + 20)
        assert brute(caps, budget) == closed(caps, budget), (caps, budget)


def test_consistent_hash_ring_contract(spark):
    """Consistent-hashing invariants on the real run: (a) every doc is
    assigned (shares sum to ~1e6, counts to corpus size); (b) removing
    the last node never DECREASES a survivor's count (only the lost
    node's docs move — the minimal-disruption contract); (c) the moved
    mass equals the lost node's count exactly."""
    from the_movies_db_spark.queries import load_all

    rows = (
        load_all()["pipeline_consistent_hash_ring"]
        .spark(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert [r.node for r in rows] == ["n0", "n1", "n2", "n3"]
    total = sum(r.n_docs for r in rows)
    lost = [r for r in rows if r.node == "n3"][0]
    assert lost.n_docs_after_last_node_removed == 0
    moved = 0
    for r in rows:
        if r.node != "n3":
            assert r.n_docs_after_last_node_removed >= r.n_docs
            moved += r.n_docs_after_last_node_removed - r.n_docs
    assert moved == lost.n_docs
    assert sum(r.n_docs_after_last_node_removed for r in rows) == total


def test_ring_successor_wraps(spark):
    """A doc hashing PAST the largest ring position must wrap to the
    ring's minimum — verified by recomputing successor assignment in
    Python from the same md5 ring and comparing every doc."""
    import hashlib

    def h48(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    ring = {
        h48(f"ring:{p}:{v}"): f"n{p}" for p in range(4) for v in range(8)
    }
    pts = sorted(ring)
    import duckdb

    docs = duckdb.connect().execute(
        "SELECT doc_id FROM read_parquet("
        "'/root/testdata/sf0.001/documents.parquet')"
    ).fetchall()
    want = {}
    wrapped = 0
    for (i,) in docs:
        d = h48(f"doc:{i}")
        succ = next((p for p in pts if p >= d), None)
        if succ is None:
            succ, wrapped = pts[0], wrapped + 1
        want[ring[succ]] = want.get(ring[succ], 0) + 1
    got = {
        r.node: r.n_docs
        for r in load_all_ring(spark).collect()
    }
    assert got == want
    assert wrapped >= 0  # wrap path exercised when any doc hashes past max


def load_all_ring(spark):
    from the_movies_db_spark.queries import load_all

    return load_all()["pipeline_consistent_hash_ring"].spark(
        spark, "/root/testdata/sf0.001"
    ).select("node", "n_docs")


def test_clustering_depth_matches_python_rederivation(spark):
    """Independent third leg: recompute the three simulated layouts
    and their overlap censuses in pure Python from the parquet and
    compare every metric (the oracle pins Spark == DuckDB on the
    shared formula; this pins the formula)."""
    import hashlib

    import duckdb

    from the_movies_db_spark.queries import load_all

    rows = duckdb.connect().execute(
        "SELECT o_orderkey, datediff('day', DATE '1970-01-01', o_orderdate)"
        " FROM read_parquet('/root/testdata/sf0.001/orders.parquet')"
    ).fetchall()
    n, nf = len(rows), 64

    def census(keyed):
        order = sorted(keyed)
        buckets = {}
        for rn, (_, day) in enumerate(order):
            b = (rn * nf) // n
            lo, hi = buckets.get(b, (day, day))
            buckets[b] = (min(lo, day), max(hi, day))
        ov = {
            b: sum(
                1
                for b2, (lo2, hi2) in buckets.items()
                if b2 != b and lo <= hi2 and lo2 <= hi
            )
            for b, (lo, hi) in buckets.items()
        }
        tot = sum(ov.values())
        return (
            len(buckets),
            max(ov.values()) if ov else 0,
            tot * 1000 // len(buckets),
            tot // 2,
        )

    def h48(k):
        return int(hashlib.md5(str(k).encode()).hexdigest()[:12], 16)

    want = {
        "a_insert": census([((k,), d) for k, d in rows]),
        "b_sorted": census([((d, k), d) for k, d in rows]),
        "c_hash": census([((h48(k), k), d) for k, d in rows]),
    }
    got = {
        r.layout: (r.n_files, r.max_overlaps, r.avg_overlaps_milli,
                   r.overlap_pairs)
        for r in load_all()["layout_clustering_depth"]
        .spark(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert got == want
    # and the metric DISCRIMINATES: sorted is materially shallower
    assert got["b_sorted"][1] < got["c_hash"][1]


def test_classifier_ece_matches_python_rederivation(spark):
    """Independent third leg for the calibration audit: recompute
    score, label, bins and ECE in pure Python from the parquet."""
    import duckdb

    from the_movies_db_spark.operators import text as T
    from the_movies_db_spark.queries import load_all

    stops = set(T.STOPWORDS["en"])
    rows = duckdb.connect().execute(
        "SELECT doc_id, text FROM read_parquet("
        "'/root/testdata/sf0.001/documents.parquet')"
    ).fetchall()
    pts = []
    for _, text in rows:
        toks = [t for t in text.lower().split() if t]
        n = len(toks)
        if n == 0:
            continue
        stop_hits = sum(1 for t in toks if t in stops)
        nd = len(set(toks))
        sl = sum(len(t) for t in toks)
        score = 2 * stop_hits * 1000 // n + nd * 1000 // n + min(n, 500)
        label = 1 if (n >= 30 and 3 * n <= sl <= 10 * n) else 0
        pts.append((score, label))
    mx = max(s for s, _ in pts)
    bins = {}
    for s, lab in pts:
        p = s * 1000000 // mx
        b = min(p // 100000, 9)
        n_docs, sp, npos = bins.get(b, (0, 0, 0))
        bins[b] = (n_docs + 1, sp + p, npos + lab)
    want = {}
    tot_n = sum(v[0] for v in bins.values())
    wsum = 0
    for b, (n_docs, sp, npos) in bins.items():
        conf = sp // n_docs
        acc = npos * 1000000 // n_docs
        want[b] = (n_docs, conf, acc, abs(conf - acc))
        wsum += n_docs * abs(conf - acc)
    ece = wsum // tot_n
    got = {
        r.bin: (r.n_docs, r.conf_ppm, r.acc_ppm, r.gap_ppm)
        for r in load_all()["pipeline_classifier_ece"]
        .spark(spark, "/root/testdata/sf0.001")
        .collect()
    }
    eces = {
        r.ece_ppm
        for r in load_all()["pipeline_classifier_ece"]
        .spark(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert got == want
    assert eces == {ece}


def test_inclusion_dependencies_find_true_fks(spark):
    """Ground truth: every REAL FK edge of the schema must surface at
    exactly 1e6 ppm (full containment), and a deliberately absent
    edge (p_partkey -> s_suppkey at sf0.001: 2000 parts vs 100
    suppliers) must not be reported in that direction."""
    from the_movies_db_spark.queries import load_all

    rows = (
        load_all()["dq_inclusion_dependencies"]
        .spark(spark, "/root/testdata/sf0.001")
        .collect()
    )
    got = {(r.from_col, r.to_col): r.inclusion_ppm for r in rows}
    for edge in [
        ("orders.o_custkey", "customer.c_custkey"),
        ("lineitem.l_orderkey", "orders.o_orderkey"),
        ("lineitem.l_partkey", "part.p_partkey"),
        ("lineitem.l_suppkey", "supplier.s_suppkey"),
        ("customer.c_nationkey", "nation.n_nationkey"),
        ("supplier.s_nationkey", "nation.n_nationkey"),
        ("nation.n_regionkey", "region.r_regionkey"),
    ]:
        assert got.get(edge) == 1000000, edge
    assert ("part.p_partkey", "supplier.s_suppkey") not in got


def test_jsonl_roundtrip_survives_hostile_strings(spark, tmp_path):
    """Planted escaping torture: embedded newlines, quotes,
    backslashes, tabs and non-ASCII must survive the to_json ->
    text file -> from_json round trip byte-exactly (newlines MUST be
    escaped, or the line-oriented format breaks)."""
    import os

    hostile = [
        (1, 'line1\nline2'),
        (2, 'quote " inside'),
        (3, 'back\\slash and \t tab'),
        (4, 'unicode é中文'),
        (5, '{"fake": "json"}'),
        (6, ''),
    ]
    df = spark.createDataFrame(hostile, "doc_id long, text string")
    out = os.path.join(str(tmp_path), "jl")
    df.select(
        F.to_json(F.struct("doc_id", "text")).alias("line")
    ).coalesce(1).write.mode("overwrite").text(out)
    back = (
        spark.read.text(out)
        .select(F.from_json("value", "doc_id bigint, text string").alias("d"))
        .select("d.doc_id", "d.text")
    )
    got = {(r.doc_id, r.text) for r in back.collect()}
    assert got == set(hostile)
    # line count == doc count (no doc spilled across lines)
    assert spark.read.text(out).count() == len(hostile)


def test_temporal_two_paths_time_respecting_only(spark, tmp_path):
    """Crafted ground truth: a forward chain A->B->C (hours 1 then 2)
    counts for broker B; a backward continuation through an hour-0
    contact must NOT count; same-hour continuation counts and is
    flagged in n_same_hour."""
    import datetime as dt
    import os

    def ts(h):
        return dt.datetime(2024, 1, 1, h, 30)

    rows = []
    eid = 0
    # cell (x, hour 1): users 1, 2  -> contacts 1<->2 at h1
    for u in (1, 2):
        rows.append((eid, ts(1), u, "x", 1.0, "{}")); eid += 1
    # cell (x, hour 2): users 2, 3  -> contacts 2<->3 at h2
    for u in (2, 3):
        rows.append((eid, ts(2), u, "x", 1.0, "{}")); eid += 1
    # cell (x, hour 0): users 2, 4  -> contacts 2<->4 at h0 (BACKWARD
    # for any path arriving at 2 later; forward 4->2->{1,3} valid)
    for u in (2, 4):
        rows.append((eid, ts(0), u, "x", 1.0, "{}")); eid += 1
    # same-hour cell (y, hour 5): users 5, 6 and (y2, hour 5): 6, 7
    for u in (5, 6):
        rows.append((eid, ts(5), u, "y", 1.0, "{}")); eid += 1
    for u in (6, 7):
        rows.append((eid, ts(5), u, "y2", 1.0, "{}")); eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    )
    sf = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "events.parquet")
    )
    from the_movies_db_spark.queries import load_all

    got = {
        r.broker: (r.n_two_paths, r.n_same_hour, r.n_sources, r.n_sinks)
        for r in load_all()["graph_temporal_two_paths"]
        .spark(spark, sf)
        .collect()
    }
    # broker 2: forward paths 1->2->3 (h1<=h2), 4->2->1 (h0<=h1),
    # 4->2->3 (h0<=h2); backward 1->2->4 and 3->2->4 and 3->2->1 excluded
    assert got[2] == (3, 0, 2, 2)
    # broker 6: same-hour 5->6->7 and 7->6->5 both count (h2 >= h1)
    assert got[6] == (2, 2, 2, 2)
    # brokers with no valid continuation report nothing or zero paths
    assert 1 not in got or got[1][0] == 0


def test_positional_deletes_match_python_and_are_idempotent(spark):
    """Third leg: recompute the deletion-vector census in pure Python
    (rank -> (file, pos) -> delete sets -> live money) — including the
    overlap between the two delete batches (pk % 77), which bit_or
    must count ONCE."""
    import duckdb

    from the_movies_db_spark.queries import load_all

    rows = duckdb.connect().execute(
        "SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT)"
        " FROM read_parquet('/root/testdata/sf0.001/orders.parquet')"
        " ORDER BY o_orderkey"
    ).fetchall()
    per_file = {}
    overlap = 0
    for rn, (pk, cents) in enumerate(rows):
        fid = rn // 1000
        dead = pk % 7 == 0 or pk % 11 == 0
        if pk % 77 == 0:
            overlap += 1
        n, nd, live = per_file.get(fid, (0, 0, 0))
        per_file[fid] = (
            n + 1, nd + (1 if dead else 0), live + (0 if dead else cents)
        )
    assert overlap > 0  # the idempotence case is actually exercised
    got = {
        r.file_id: (r.n_rows, r.n_deleted, r.n_live, r.live_cents)
        for r in load_all()["upsert_positional_deletes"]
        .spark(spark, "/root/testdata/sf0.001")
        .collect()
    }
    want = {
        fid: (n, nd, n - nd, live) for fid, (n, nd, live) in per_file.items()
    }
    assert got == want


# ---------------------------------------------------------------- isotonic


def _pava_exact(bins):
    """Reference PAVA via pool-adjacent-violators with Fraction-exact
    weighted averages. bins = [(n, s)] in bin order; returns the exact
    fitted rate per bin as Fractions."""
    from fractions import Fraction

    stack = []  # (count_of_bins, weight, sum)
    for n, s in bins:
        stack.append((1, n, s))
        while len(stack) > 1 and Fraction(stack[-2][2], stack[-2][1]) > Fraction(
            stack[-1][2], stack[-1][1]
        ):
            c2, n2, s2 = stack.pop()
            c1, n1, s1 = stack.pop()
            stack.append((c1 + c2, n1 + n2, s1 + s2))
    fits = []
    for c, n, s in stack:
        fits.extend([Fraction(s, n)] * c)
    return fits


def _minimax_floor(bins):
    """The registered encoding: ppm-floor each interval average, then
    iso(i) = max over j<=i of min over k>=i of a_ppm(j, k)."""
    B = len(bins)
    cs = [0]
    cn = [0]
    for n, s in bins:
        cn.append(cn[-1] + n)
        cs.append(cs[-1] + s)

    def a(j, k):  # 0-based inclusive interval
        return (cs[k + 1] - cs[j]) * 1000000 // (cn[k + 1] - cn[j])

    out = []
    for i in range(B):
        best = None
        for j in range(i + 1):
            m = min(a(j, k) for k in range(i, B))
            if best is None or m > best:
                best = m
        out.append(best)
    return out


def test_isotonic_minimax_floor_tracks_exact_pava():
    """Property: the ppm-floored minimax is monotone and within 1
    micro-unit of the Fraction-exact PAVA fit, on random bin tables
    (including all-zero and all-one label bins)."""
    import random

    rng = random.Random(1301)
    for _ in range(3000):
        B = rng.randint(1, 10)
        bins = []
        for _ in range(B):
            n = rng.randint(1, 40)
            bins.append((n, rng.randint(0, n)))
        got = _minimax_floor(bins)
        exact = _pava_exact(bins)
        assert all(a <= b for a, b in zip(got, got[1:])), bins
        for g, e in zip(got, exact):
            ef = (e.numerator * 1000000) // e.denominator
            assert abs(g - ef) <= 1, (bins, got, exact)


def test_isotonic_query_matches_python_minimax(spark):
    """Third leg on real data: rebuild the bin table independently in
    DuckDB, run the pure-Python minimax encoding, and compare to the
    Spark op's iso_ppm values bin by bin."""
    import duckdb

    from the_movies_db_spark.queries import load_all

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        "'/root/testdata/sf0.001/documents.parquet')"
    )
    q = load_all()["pipeline_isotonic_calibration"]
    # reuse the oracle's own bins CTE by truncating at the pre stage
    bins_sql = q.oracle.split("), pre AS")[0] + ") SELECT bin, n_docs, s FROM bins ORDER BY bin"
    bins = [(int(n), int(s)) for _, n, s in con.execute(bins_sql).fetchall()]
    want = _minimax_floor(bins)
    rows = q.spark(spark, "/root/testdata/sf0.001").collect()
    assert [r.iso_ppm for r in rows] == want
    assert all(
        a.iso_ppm <= b.iso_ppm for a, b in zip(rows, rows[1:])
    )


# ---------------------------------------------------------------- conformal


def test_conformal_matches_python_rederivation(spark):
    """Third leg: recompute per-lang split-conformal thresholds and
    coverage in pure Python (sorted-list order statistic, independent
    of the histogram-window encoding) and compare every output cell.
    Also pins the order-statistic definition: at least k calibration
    alphas are <= q, and fewer than k are < q (unless degenerate)."""
    import duckdb

    from the_movies_db_spark.queries import load_all

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        "'/root/testdata/sf0.001/documents.parquet')"
    )
    q = load_all()["pipeline_conformal_threshold"]
    alpha_sql = (
        q.oracle.split("), cal_tot AS")[0]
        + ") SELECT lang, half, alpha FROM scored"
    )
    by_lang: dict[str, dict[int, list[int]]] = {}
    for lang, half, alpha in con.execute(alpha_sql).fetchall():
        by_lang.setdefault(lang, {0: [], 1: []})[int(half)].append(int(alpha))
    want = {}
    for lang, halves in by_lang.items():
        cal = sorted(halves[0])
        n_cal = len(cal)
        k = (9 * (n_cal + 1) + 9) // 10
        qv = cal[k - 1] if k <= n_cal else 1000000
        test = halves[1]
        cov = sum(1 for a in test if a <= qv)
        want[lang] = (n_cal, k, qv, len(test), cov,
                      cov * 1000000 // len(test))
        assert sum(1 for a in cal if a <= qv) >= k or qv == 1000000
        if k <= n_cal:
            assert sum(1 for a in cal if a < qv) < k
    rows = q.spark(spark, "/root/testdata/sf0.001").collect()
    got = {
        r.lang: (r.n_cal, r.k, r.q_ppm, r.n_test, r.n_covered, r.cov_ppm)
        for r in rows
    }
    assert got == want


# ---------------------------------------------------------------- jackknife


def test_jackknife_ceil_identity():
    """floor((n-1)*s/n) == s - ceil(s/n) for all non-negative s —
    the overflow-free encoding used by orders_jackknife_ratio."""
    import random

    rng = random.Random(13)
    for _ in range(20000):
        s = rng.randint(0, 10**18)
        n = rng.randint(1, 10**6)
        assert (n - 1) * s // n == s - (s + n - 1) // n, (s, n)


def test_jackknife_matches_python_rederivation(spark):
    """Third leg: recompute the delete-one jackknife entirely in
    Python integers from the raw parquet and compare every cell."""
    import duckdb

    from the_movies_db_spark.queries import load_all

    con = duckdb.connect()
    rows = con.execute(
        "SELECT c.c_mktsegment, o.o_custkey,"
        " CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT),"
        " count(*)"
        " FROM read_parquet('/root/testdata/sf0.001/orders.parquet') o"
        " JOIN read_parquet('/root/testdata/sf0.001/customer.parquet') c"
        " ON o.o_custkey = c.c_custkey GROUP BY 1, 2"
    ).fetchall()
    segs: dict[str, list[tuple[int, int]]] = {}
    for seg, _, y, x in rows:
        segs.setdefault(seg, []).append((int(y), int(x)))
    import math

    want = {}
    for seg, cl in segs.items():
        sy = sum(y for y, _ in cl)
        sx = sum(x for _, x in cl)
        n = len(cl)
        r = sy * 1000 // sx
        s = sum(((sy - y) * 1000 // (sx - x) - r) ** 2 for y, x in cl)
        q = s - (s + n - 1) // n
        # replicate the ENGINE encoding (floor of IEEE double sqrt),
        # not isqrt — they can differ within half an ulp of a square
        se = int(math.floor(math.sqrt(q)))
        want[seg] = (n, r, se, se * 1000000 // r)
    got = {
        r.segment: (r.n_clusters, r.ratio_milli, r.se_jack_milli, r.rel_se_ppm)
        for r in load_all()["orders_jackknife_ratio"]
        .spark(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert got == want


# ---------------------------------------------------------- equality deletes


def test_equality_deletes_planted_semantics(spark, tmp_path):
    """Planted ground truth for the sequence-number scoping rules:
    hand-computed version-level outcomes for pks chosen to hit every
    (re-insert x delete x attribution) combination."""
    from the_movies_db_spark.queries import load_all

    rows = [
        (1, "O", 100.0),    # v1 live
        (3, "F", 100.0),    # v1 killed by status delete (seq 1 < 5)
        (7, "O", 100.0),    # v1 killed by pk delete (7%7=0, seq 1 < 3)
        (21, "O", 100.0),   # v1 killed_pk; v4 (21%21=0) RESURRECTED
        (35, "O", 100.0),   # v1+v2 (35%5=0) both killed_pk; no v4
        (42, "F", 100.0),   # v1 killed_pk (first-match); v4 killed_status
        (105, "P", 100.0),  # v1+v2 killed_pk; v4 resurrected
    ]
    df = spark.createDataFrame(
        [(pk, st, tp) for pk, st, tp in rows],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )
    got = {
        r.status: (
            r.n_versions,
            r.n_live,
            r.live_cents,
            r.n_killed_eq_pk,
            r.n_killed_eq_status,
            r.n_resurrected,
        )
        for r in load_all()["upsert_equality_deletes"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    # versions: O: 1v1,7v1,21v1,21v4,35v1,35v2 = 6; F: 3v1,42v1,42v4 = 3;
    # P: 105v1,105v2,105v4 = 3
    want = {
        # O: live = pk1 v1 (10000) + pk21 v4 (12000); killed_pk = 7v1,
        # 21v1, 35v1, 35v2; resurrected = 21v4
        "O": (6, 2, 10000 + 12000, 4, 0, 1),
        # F: killed_pk = 42v1 (pk match wins attribution);
        # killed_status = 3v1, 42v4
        "F": (3, 0, 0, 1, 2, 0),
        # P: killed_pk = 105v1, 105v2; live/resurrected = 105v4 (12000)
        "P": (3, 1, 12000, 2, 0, 1),
    }
    assert got == want


# ---------------------------------------------------------------- RM3


def test_rm3_expansion_python_rederivation_and_nonvacuity(spark):
    """Third leg: rebuild the RM3 relevance-model weights in pure
    Python (duckdb fetches only raw tokens + the feedback pool) and
    compare the selected expansion terms; then assert the feedback
    loop actually MOVES the ranking vs plain BM25 for >=1 query."""
    import duckdb

    from the_movies_db_spark.queries import load_all
    from the_movies_db_spark.queries.search_queries import (
        QUERIES,
        _RM3_EXP,
        _RM3_FB,
        _bm25_oracle,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        "'/root/testdata/sf0.001/documents.parquet')"
    )
    fb = con.execute(
        f"SELECT query_id, doc_id, score_milli FROM ({_bm25_oracle(_RM3_FB)})"
    ).fetchall()
    toks = {
        int(i): [t for t in txt.lower().split() if t]
        for i, txt in con.execute(
            "SELECT doc_id, text FROM documents"
        ).fetchall()
    }
    qterms = {}
    for qid, term in QUERIES:
        qterms.setdefault(qid, set()).add(term)
    rw: dict[tuple[int, str], int] = {}
    for qid, doc, score in fb:
        dl = len(toks[int(doc)])
        tf: dict[str, int] = {}
        for t in toks[int(doc)]:
            tf[t] = tf.get(t, 0) + 1
        for t, f_ in tf.items():
            if len(t) < 3 or t in qterms[int(qid)]:
                continue
            rw[(int(qid), t)] = rw.get((int(qid), t), 0) + (
                f_ * 1000 * int(score)
            ) // dl
    want = {}
    for qid in qterms:
        cand = sorted(
            ((w, t) for (q, t), w in rw.items() if q == qid),
            key=lambda p: (-p[0], p[1]),
        )[:_RM3_EXP]
        want[qid] = {t for _, t in cand}
    q = load_all()["search_prf_rm3"]
    expn_sql = q.oracle.split("tf2 AS (")[0].rstrip().rstrip(",") + (
        " SELECT query_id, term FROM expn"
    )
    got: dict[int, set] = {}
    for qid, term in con.execute(expn_sql).fetchall():
        got.setdefault(int(qid), set()).add(term)
    assert got == want
    # non-vacuity: the fused ranking differs from plain BM25 somewhere
    rm3 = {
        (r.query_id, r.rank): r.doc_id
        for r in q.spark(spark, "/root/testdata/sf0.001").collect()
    }
    bm = {
        (r.query_id, r.rank): r.doc_id
        for r in load_all()["search_bm25_topk"]
        .spark(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert any(rm3[k] != bm.get(k) for k in rm3)
    # every fused score is the documented interpolation of its parts
    for r in q.spark(spark, "/root/testdata/sf0.001").collect():
        assert r.final_milli == (6 * r.orig_milli + 4 * r.exp_milli) // 10


# ---------------------------------------------------------------- k-truss


def test_ktruss_planted_clique_survives_triangle_peeled(spark, tmp_path):
    """Planted ground truth: a 5-clique (every edge in 3 triangles)
    must survive k=4 truss peeling intact; an isolated triangle (each
    edge in exactly 1 triangle) and a pendant edge (0 triangles) must
    be peeled in round 1. Each co-purchase edge is planted as one
    customer ordering exactly that supplier pair."""
    from itertools import combinations

    from the_movies_db_spark.queries import load_all

    edges = (
        list(combinations([1, 2, 3, 4, 5], 2))  # 5-clique: 10 edges
        + [(10, 11), (10, 12), (11, 12)]        # isolated triangle
        + [(20, 21)]                            # pendant edge
    )
    orders = [(k, 1000 + k) for k in range(len(edges))]
    lineitem = [
        (k, s) for k, (u, v) in enumerate(edges) for s in (u, v)
    ]
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )
    spark.createDataFrame(
        lineitem, "l_orderkey long, l_suppkey long"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    suppliers = sorted({s for uv in edges for s in uv})
    spark.createDataFrame(
        [(s, 0) for s in suppliers], "s_suppkey long, s_nationkey long"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "supplier.parquet")
    )
    got = [
        (r.round, r.n_edges, r.n_nodes, r.n_triangles)
        for r in load_all()["graph_ktruss"]
        .spark(spark, str(tmp_path))
        .collect()
    ]
    assert got == [
        (0, 14, 10, 11),  # all edges, C(5,3)+1 triangles
        (1, 10, 5, 10),   # triangle + pendant peeled, clique intact
        (2, 10, 5, 10),   # fixpoint
        (3, 10, 5, 10),
    ]


def test_ktruss_scan_budget(spark):
    """Multi-branch iterative op: every g{r} must be a checkpoint
    artifact (0 fact scans in the final plan — the upstream pair join
    never re-executes per branch) and the artifact re-scan count stays
    at 6 branches x 4 rounds (round-9 HITS discipline)."""
    import re

    from the_movies_db_spark.queries import load_all

    txt = (
        load_all()["graph_ktruss"]
        .spark(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert txt.count("lineitem.parquet") == 0
    assert txt.count("orders.parquet") == 0
    assert len(re.findall("Scan ExistingRDD", txt)) <= 30


# ---------------------------------------------------------------- slices


def test_slice_finder_planted_hot_slice(spark, tmp_path):
    """Planted ground truth: a (hourbin=2, cohort=3) slice with a 50%
    error rate over a 10% baseline must surface as the top slice, and
    every reported row must match an independent Python rederivation
    of the grouping-sets + scoring formula."""
    from datetime import datetime, timedelta
    from itertools import product

    from the_movies_db_spark.queries import load_all

    epoch = datetime(1970, 1, 1)
    rows = []
    eid = 0
    # 20 days x 5 cohorts x 4 hourbins; the hot cell gets 8 events
    # per day (16% support — above the 5% floor), others 2
    for d, cohort, hb in product(range(20), range(5), range(4)):
        hot = cohort == 3 and hb == 2
        reps = 8 if hot else 2
        for k in range(reps):
            is_err = (eid % 2 == 0) if hot else (eid % 10 == 0)
            rows.append(
                (
                    eid,
                    epoch + timedelta(days=d, hours=hb * 6 + 1),
                    cohort,  # user_id % 10 == cohort
                    "error" if is_err else "view",
                    1.0,
                    "{}",
                )
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    # independent Python rederivation
    py = []
    for r in rows:
        d = (r[1] - epoch).days
        py.append(
            (
                (d + 3) % 7,
                ((r[1] - epoch).seconds // 3600) // 6,
                r[2] % 10,
                1 if r[3] == "error" else 0,
            )
        )
    n_total = len(py)
    gppm = sum(e for *_, e in py) * 1000000 // n_total
    sets = [(0,), (1,), (2,), (0, 1), (0, 2), (1, 2)]
    agg: dict[tuple, list[int]] = {}
    for wd, hb, co, e in py:
        dims = (wd, hb, co)
        for st in sets:
            key = tuple(dims[i] if i in st else -1 for i in range(3))
            a = agg.setdefault(key, [0, 0])
            a[0] += 1
            a[1] += e
    want = []
    for key, (n, errs) in agg.items():
        if n * 20 < n_total:
            continue
        rate = errs * 1000000 // n
        score = ((rate - gppm) // 100) * n
        want.append((score, *key, n, errs, rate))
    want.sort(key=lambda t: (-t[0], t[1], t[2], t[3]))
    got = [
        (r.score, r.weekday, r.hourbin, r.cohort, r.n_events, r.n_errors,
         r.rate_ppm)
        for r in load_all()["events_slice_finder"]
        .spark(spark, str(tmp_path))
        .collect()
    ]
    assert got == want[:10]
    # the planted hot slice is the top hit
    assert (got[0][1], got[0][2], got[0][3]) == (-1, 2, 3)


# ---------------------------------------------------------------- map HOFs


def test_map_hof_path_equals_relational_plan(spark):
    """The map-algebra pipeline (map_from_entries -> map_zip_with ->
    transform_keys -> map_filter -> map_entries) must be lossless:
    compare against the direct relational computation inside Spark."""
    from pyspark.sql import functions as F

    from the_movies_db_spark.io import load_table
    from the_movies_db_spark.queries import load_all

    got = [
        tuple(r)
        for r in load_all()["fn_map_higher_order"]
        .spark(spark, "/root/testdata/sf0.001")
        .collect()
    ]
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    want = [
        tuple(r)
        for r in load_table(spark, "/root/testdata/sf0.001", "events")
        .groupBy(
            "event_type",
            F.expr(
                f"CAST((timestampdiff(DAY, {epoch}, ts) + 3) % 7 AS BIGINT)"
            ).alias("wd"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("c"),
        )
        .select(
            "event_type",
            F.expr("wd + 100").cast("bigint"),
            F.col("n").cast("bigint"),
            F.expr("c * 1000 div n").cast("bigint"),
            F.expr(
                "CASE WHEN c * 1000 div n >= 5000000 THEN 1 ELSE 0 END"
            ).cast("bigint"),
        )
        .orderBy("event_type", "wd")
        .collect()
    ]
    assert got == want and len(got) > 0


# ------------------------------------------------------- partition evolution


def test_partition_evolution_pruning_split(spark):
    """The status predicate must reach the two specs differently:
    directory-level PartitionFilters on the (month, status) spec,
    pushed row filters (NOT partition filters) on the month-only
    spec."""
    from the_movies_db_spark.queries import load_all
    from the_movies_db_spark.queries.surface_extra import (
        _orders_spec_evolution_path,
    )

    sf = "/root/testdata/sf0.001"
    root = _orders_spec_evolution_path(spark, sf)
    p1 = (
        spark.read.parquet(root + "/spec1")
        .filter("status = 'O'")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    p2 = (
        spark.read.parquet(root + "/spec2")
        .filter("status = 'O'")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    def bracket(txt, key):
        m = re.search(key + r": \[([^\]]*)\]", txt)
        return m.group(1) if m else ""
    # new spec: status is a partition column -> directory pruning
    assert "status" in bracket(p2, "PartitionFilters")
    # old spec: status is a data column -> pushed row filter only
    assert "status" not in bracket(p1, "PartitionFilters")
    assert "status" in bracket(p1, "PushedFilters")
    # and the union is lossless vs the raw table
    rows = (
        load_all()["io_partition_evolution"].spark(spark, sf).collect()
    )
    import duckdb

    want = duckdb.connect().execute(
        "SELECT count(*) FROM read_parquet("
        f"'{sf}/orders.parquet') WHERE o_orderstatus = 'O'"
    ).fetchone()[0]
    assert sum(r.n_rows for r in rows) == want


# -------------------------------------------------------- active learning


def test_active_learning_contract(spark):
    """Contract pins: every selected doc lies inside the uncertain
    band; per-lang selections respect the quota and are the lang's
    TIGHTEST margins (re-derived via duckdb over the oracle's own
    pool stage); quotas follow the integer proportional formula."""
    import duckdb

    from the_movies_db_spark.queries import load_all

    q = load_all()["pipeline_active_learning"]
    rows = q.spark(spark, "/root/testdata/sf0.001").collect()
    assert rows, "selection must be non-empty"
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        "'/root/testdata/sf0.001/documents.parquet')"
    )
    pool_sql = q.oracle.split("), quota AS")[0] + (
        ") SELECT lang, doc_id, margin_ppm FROM pool"
    )
    pool = con.execute(pool_sql).fetchall()
    n_pool = len(pool)
    by_lang: dict[str, list] = {}
    for lang, doc, m in pool:
        by_lang.setdefault(lang, []).append((int(m), int(doc)))
    for r in rows:
        assert r.margin_ppm <= 250000
        n_lang = len(by_lang[r.lang])
        assert r.quota == max(1, 20 * n_lang // n_pool)
    for lang, members in by_lang.items():
        want_quota = max(1, 20 * len(members) // n_pool)
        sel = [(r.margin_ppm, r.doc_id) for r in rows if r.lang == lang]
        assert len(sel) == min(want_quota, len(members))
        assert sel == sorted(members)[: len(sel)]


# ---------------------------------------------------------------- BM25F


def test_bm25f_equals_bm25_on_virtual_documents(spark, tmp_path):
    """The virtual-document pin: BM25F with title weight 2 must equal
    plain BM25 over documents whose first 10 tokens are literally
    duplicated — tf, dl, T all double-count the title while df stays
    presence-based. Crafted corpus with query terms split across
    title and body positions."""
    from the_movies_db_spark.queries import load_all
    from the_movies_db_spark.queries.search_queries import bm25_topk

    texts = [
        "spark join hash table merge sort key window stream batch"
        " extra words beyond the title boundary join spark",
        "window stream batch padding tokens here and there merge"
        " sort key spark join hash deep in the body only",
        "merge sort key merge sort key merge sort key merge after"
        " boundary merge sort",
        "hash hash hash hash hash hash hash hash hash hash hash"
        " hash hash",  # tf saturation across the boundary
        "unrelated filler document with none of the terms at all",
    ]
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        (r.query_id, r.rank): (r.doc_id, r.score_milli)
        for r in load_all()["search_bm25f"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    virtual = [
        (i, " ".join(t.split()[:10] + t.split()), "en", "s", 0)
        for i, t in enumerate(texts)
    ]
    vdf = spark.createDataFrame(
        virtual, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    want = {
        (r.query_id, r.rank): (r.doc_id, r.score_milli)
        for r in bm25_topk(spark, vdf).collect()
    }
    assert got == want and got


# ---------------------------------------------------------------- RD


def test_rd_planted_jump_recovered(spark, tmp_path):
    """Planted ground truth: outcome = 1000 + 5*u cents below the
    cutoff, 3000 + 5*u above (linear both sides, jump exactly 2000
    cents at u=0) — the local-linear RD must recover tau = 2000 cents
    = 2e9 micro-units EXACTLY (the fit is exact on exactly-linear
    data and the divmod chain has zero remainder)."""
    from the_movies_db_spark.queries import load_all
    from datetime import datetime

    rows = []
    eid = 0
    for x in range(31, 70):      # running variable band (|x-50| < 20)
        for k in range(3):       # 3 events per x
            u = x - 50
            y = (1000 + 5 * u) if x < 50 else (3000 + 5 * u)
            rows.append(
                (eid, datetime(2024, 1, 1), 100 + x, "view",
                 y / 100.0, "{}")
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    [r] = (
        load_all()["events_regression_discontinuity"]
        .spark(spark, str(tmp_path))
        .collect()
    )
    assert (r.n_l, r.n_r) == (57, 60)
    assert r.yhat_l_micro == 1000 * 1000000
    assert r.yhat_r_micro == 3000 * 1000000
    assert r.tau_micro == 2000 * 1000000


def test_rd_chain_equals_exact_rational():
    """The 3-stage divmod chain must equal floor(num*1e6/den) for
    positive rationals and the truncate-toward-zero analogue for
    negative numerators (both engines share % semantics)."""
    import random

    def chain(num, den):
        # replicate engine semantics: truncate-toward-zero div / mod
        def tdiv(a, b):
            return -((-a) // b) if (a < 0) != (b < 0) else a // b
        def tmod(a, b):
            return a - b * tdiv(a, b)
        t1 = tdiv(num, den) * 1000000
        t2 = tdiv(tmod(num, den) * 100, den) * 10000
        t3 = tdiv(tmod(tmod(num, den) * 100, den) * 100, den) * 100
        t4 = tdiv(tmod(tmod(tmod(num, den) * 100, den) * 100, den) * 100, den)
        return t1 + t2 + t3 + t4

    rng = random.Random(1302)
    for _ in range(20000):
        den = rng.randint(1, 10**12)
        num = rng.randint(0, 10**15)
        assert chain(num, den) == num * 1000000 // den, (num, den)


# ---------------------------------------------------------------- BH / FDR


def test_fdr_bh_planted_effects_rejected(spark, tmp_path):
    """Planted ground truth: two event types carry a REAL arm effect
    (arm-1 users spend 100x), three are null — BH at q=0.10 must
    reject exactly the effect types, and every output cell must match
    a pure-Python replication of the permutation + step-up logic."""
    import hashlib
    from datetime import datetime

    from the_movies_db_spark.queries import load_all

    def arm(seed: str, uid: int) -> int:
        return int(
            hashlib.md5(f"{seed}:{uid}".encode()).hexdigest()[:4], 16
        ) % 2

    users = list(range(1, 101))
    rows = []
    eid = 0
    for uid in users:
        a = arm("obs", uid)
        for et in ("alpha", "beta", "gamma", "delta", "epsilon"):
            effect = et in ("alpha", "beta")
            v = 100.0 if (effect and a == 1) else 1.0
            rows.append(
                (eid, datetime(2024, 1, 1), uid, et, v, "{}")
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    # pure-Python replication
    cents = {}
    for _, _, uid, et, v, _ in rows:
        cents[(uid, et)] = cents.get((uid, et), 0) + round(v * 100)
    types = sorted({et for _, et in cents})
    def stat(seed):
        s = {et: 0 for et in types}
        for (uid, et), c in cents.items():
            s[et] += c if arm(seed, uid) == 1 else -c
        return {et: abs(x) for et, x in s.items()}
    obs = stat("obs")
    n_ext = {et: 0 for et in types}
    for k in range(40):
        st = stat(str(k))
        for et in types:
            if st[et] >= obs[et]:
                n_ext[et] += 1
    order = sorted(types, key=lambda et: (n_ext[et], et))
    kstar = 0
    for i, et in enumerate(order, 1):
        if (1 + n_ext[et]) * 10 * len(types) <= i * 41 * 1:
            kstar = i
    want = {
        et: (obs[et], n_ext[et], (1 + n_ext[et]) * 1000 // 41, i,
             1 if i <= kstar else 0)
        for i, et in enumerate(order, 1)
    }
    got = {
        r.event_type: (r.observed_cents, r.n_extreme, r.p_milli,
                       r.bh_rank, r.rejected)
        for r in load_all()["events_fdr_bh"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    assert got == want
    assert got["alpha"][4] == 1 and got["beta"][4] == 1
    assert got["gamma"][4] == 0 and got["delta"][4] == 0
    assert got["epsilon"][4] == 0
