"""Property-based tests (SURVEY §5.4) on the pure-Python kernels plus a
seeded structural fuzz of the body-scan ordering, and the UDTF.
"""

from __future__ import annotations

import base64
import json
import random

from hypothesis import given, settings
from hypothesis import strategies as st

from gmail_etl_spark.functions.html import strip_html
from gmail_etl_spark.functions.vendor import extract_indeed_fields

# ---------------------------------------------------------------------------
# pure-python kernels never crash and obey basic invariants
# ---------------------------------------------------------------------------


@given(st.text(max_size=500))
@settings(max_examples=200, deadline=None)
def test_strip_html_total(html):
    out = strip_html(html)
    assert out is not None
    assert "<script" not in out.lower() or "<" in html  # no tag survives intact parse


@given(st.text(max_size=300))
@settings(max_examples=200, deadline=None)
def test_extract_indeed_total(html):
    role, org, location = extract_indeed_fields(html)
    # either a full triple or all-null — never a partial row (ref :219-220)
    assert (role is None) == (org is None) == (location is None)


@given(st.text(max_size=200))
@settings(max_examples=200, deadline=None)
def test_sender_parse_semantics(raw):
    """Python model of parse_sender (F2/F3): split '<' take last, strip
    '>' and whitespace — idempotent on its own output."""

    def model(s: str) -> str:
        return s.split("<")[-1].replace(">", "").strip()

    once = model(raw)
    assert model(once) == once or "<" in once  # idempotent unless '<' survived


@given(st.binary(max_size=200))
@settings(max_examples=200, deadline=None)
def test_b64url_roundtrip_bytes(data):
    encoded = base64.urlsafe_b64encode(data).decode()
    assert base64.urlsafe_b64decode(encoded) == data


# ---------------------------------------------------------------------------
# structural fuzz: body scan order matches the reference mechanism
# ---------------------------------------------------------------------------


def _random_payload(rng: random.Random, depth: int):
    """Random message payload within the depth-2 raw schema."""

    def body():
        if rng.random() < 0.3:
            return {"data": None}
        return {"data": base64.urlsafe_b64encode(
            f"t{rng.randrange(1000)}".encode()).decode()}

    node = {"mimeType": "x", "body": body()}
    if depth > 0 and rng.random() < 0.8:
        node["parts"] = [
            _random_payload(rng, depth - 1) for _ in range(rng.randrange(0, 4))
        ]
    else:
        node["parts"] = None
    return node


def test_body_scan_order_fuzz(spark):
    from pyspark.sql import functions as F

    from gmail_etl_spark.functions.scalar import body_text_fixed_depth
    from gmail_etl_spark.schemas import RAW_MESSAGE_SCHEMA

    rng = random.Random(42)
    msgs = []
    for i in range(40):
        payload = _random_payload(rng, 2)
        payload["headers"] = []
        msgs.append({"id": f"f{i:03d}", "payload": payload})

    def reference_scan(item):
        results = []

        def hook(d):
            if "data" in d:
                results.append(d["data"])
            return d

        json.loads(json.dumps(item), object_hook=hook)
        return [r for r in results if r is not None]

    df = spark.createDataFrame(msgs, RAW_MESSAGE_SCHEMA)
    got = {
        r["id"]: r["b"]
        for r in df.select("id", body_text_fixed_depth(F.col("payload")).alias("b")).collect()
    }
    for m in msgs:
        exp = " ".join(
            base64.urlsafe_b64decode(d).decode() for d in reference_scan(m)
        )
        assert got[m["id"]] == exp, m["id"]


# ---------------------------------------------------------------------------
# UDTF
# ---------------------------------------------------------------------------


def test_header_explode_udtf(spark):
    from pyspark.sql import functions as F

    from gmail_etl_spark.functions.udtf import HeaderExplode
    from gmail_etl_spark.sources.fixtures import fixture_raw_df

    spark.udtf.register("header_explode", HeaderExplode)
    fixture_raw_df(spark).select("id", F.col("payload.headers").alias("headers")
    ).createOrReplaceTempView("raw_msgs")
    out = spark.sql(
        """
        SELECT t.id, t.name, t.value, t.pos
        FROM raw_msgs, LATERAL header_explode(id, headers) t
        """
    )
    rows = out.collect()
    # m003 has duplicate Subject headers — visible here, hidden by last-wins
    m3 = [r for r in rows if r["id"] == "m003" and r["name"] == "subject"]
    assert len(m3) == 2
    assert [r["value"] for r in sorted(m3, key=lambda r: r["pos"])] == [
        "first subject",
        "second subject wins",
    ]


@given(
    st.integers(min_value=2, max_value=24),
    st.integers(min_value=2, max_value=16),
    st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=40, deadline=None)
def test_dhash_stable_under_reencode(w, h, seed):
    """dHash is a function of the pixels: re-encoding the same pixel
    buffer as a fresh PNG (new zlib stream, new chunk layout) must give
    the identical hash, and both halves stay in uint32 range."""
    from gmail_etl_spark.operators.multimodal import dhash_halves, encode_png

    px = bytes(((x * 31 + y * 17 + seed) % 256) for y in range(h) for x in range(w) for _ in range(3))
    a = dhash_halves(encode_png(w, h, 3, px))
    b = dhash_halves(encode_png(w, h, 3, px))
    assert a == b
    assert 0 <= a[0] < 2**32 and 0 <= a[1] < 2**32


@given(st.lists(st.integers(min_value=-8000, max_value=8000), min_size=264, max_size=264))
@settings(max_examples=40, deadline=None)
def test_audio_fingerprint_gain_invariant(samples):
    """The energy-delta fingerprint depends only on the loudness
    contour's ordering, so a clean 2x gain (no clipping at 16-bit
    range) must not change a single bit."""
    from gmail_etl_spark.operators.audio import audio_fingerprint, encode_wav

    base = audio_fingerprint(encode_wav(8000, samples))
    louder = audio_fingerprint(encode_wav(8000, [s * 2 for s in samples]))
    assert base == louder
    assert base is not None and 0 <= base < 2**32


# ---------------------------------------------------------------------------
# session-batch algorithm references: the oracles prove ENGINE parity
# (or share text), these prove the ALGORITHMS against naive Python
# ---------------------------------------------------------------------------


def test_pareto_frontier_matches_bruteforce(spark):
    """q220's range-frame skyline must equal the O(n²) dominance scan."""
    from gmail_etl_spark.plans.catalog import CATALOG, _ensure_loaded

    _ensure_loaded()
    from tests.conftest import SF_DIR

    got = {
        (r["custkey"], r["cents"], r["n_orders"])
        for r in CATALOG["q220_pareto_frontier"].builder(spark, SF_DIR).collect()
    }
    import duckdb

    pts = duckdb.sql(
        f"""SELECT o_custkey, CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT))
            AS BIGINT), COUNT(*) FROM '{SF_DIR}/orders.parquet' GROUP BY 1"""
    ).fetchall()
    expected = set()
    for k, c, n in pts:
        dominated = any(
            (c2 >= c and n2 >= n and (c2 > c or n2 > n))
            for _, c2, n2 in pts
        )
        if not dominated:
            expected.add((k, c, n))
    assert got == expected


def test_bitmask_streak_matches_python_loop(spark):
    """q228's m&=m<<1 streak algebra must equal a literal run scan."""
    from collections import Counter

    import duckdb

    from gmail_etl_spark.plans.catalog import CATALOG, _ensure_loaded
    from tests.conftest import SF_DIR

    _ensure_loaded()
    got = {
        r["longest_streak"]: r["n_users"]
        for r in CATALOG["q228_activity_bitmask_streaks"]
        .builder(spark, SF_DIR)
        .collect()
    }
    rows = duckdb.sql(
        f"""SELECT user_id, CAST(floor(epoch(ts)/86400) AS BIGINT)
            - (SELECT MIN(CAST(floor(epoch(ts)/86400) AS BIGINT))
               FROM '{SF_DIR}/events.parquet') AS o
            FROM '{SF_DIR}/events.parquet'"""
    ).fetchall()
    days: dict[int, set[int]] = {}
    for u, o in rows:
        if 0 <= o <= 62:
            days.setdefault(u, set()).add(o)
    hist: Counter[int] = Counter()
    for dset in days.values():
        best = run = 0
        for d in range(0, 63):
            run = run + 1 if d in dset else 0
            best = max(best, run)
        hist[best] += 1
    assert got == dict(hist)


def test_ewma_matches_sequential_reference(spark):
    """q208's integer-prefix-sum EWMA must match the per-step float
    recurrence level = (y + prev) / 2 to within rounding."""
    from gmail_etl_spark.plans.catalog import CATALOG, _ensure_loaded
    from tests.conftest import SF_DIR

    _ensure_loaded()
    rows = (
        CATALOG["q208_ewma_smoothing"].builder(spark, SF_DIR).collect()
    )
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for et, series in by_type.items():
        series.sort(key=lambda r: r["day_idx"])
        level = None
        for r in series:
            level = (
                float(r["cents"])
                if level is None
                else (r["cents"] + level) / 2.0
            )
            assert abs(r["level_cents"] - level) < 1e-3, (et, r)


def test_mann_whitney_matches_naive_ranks(spark):
    """q213's doubled-tie-rank U must equal average-rank U computed the
    textbook way in Python."""
    import duckdb

    from gmail_etl_spark.plans.catalog import CATALOG, _ensure_loaded
    from tests.conftest import SF_DIR

    _ensure_loaded()
    got = {
        r["event_type"]: (r["n1"], r["u1"])
        for r in CATALOG["q213_mann_whitney_u"].builder(spark, SF_DIR).collect()
    }
    vals = duckdb.sql(
        f"""SELECT event_type, CAST(round(value*100) AS BIGINT)
            FROM '{SF_DIR}/events.parquet'"""
    ).fetchall()
    pooled = sorted(v for _, v in vals)
    # average rank per value (1-based)
    from collections import defaultdict

    first: dict[int, int] = {}
    count: dict[int, int] = defaultdict(int)
    for i, v in enumerate(pooled, 1):
        first.setdefault(v, i)
        count[v] += 1
    avg_rank = {v: first[v] + (count[v] - 1) / 2.0 for v in first}
    for et in {t for t, _ in vals}:
        mine = [v for t, v in vals if t == et]
        r1 = sum(avg_rank[v] for v in mine)
        u1 = r1 - len(mine) * (len(mine) + 1) / 2.0
        n1_got, u1_got = got[et]
        assert n1_got == len(mine)
        assert abs(u1_got - u1) < 0.51, (et, u1_got, u1)


def test_bitmask_ladder_long_streaks(spark):
    """The q228 ladder must count runs BEYOND 31 days — regression for
    a 30-step unroll that saturated longest_streak at 31 while the mask
    window admits 63-day runs.  Synthetic users with 40-, 63- and
    broken-run masks, same shared SQL tail on both engines."""
    import duckdb

    from gmail_etl_spark.plans.feature_queries import _Q228_TAIL_SQL

    cases = {
        1: set(range(40)),                  # 40-day run
        2: set(range(63)),                  # full-window 63-day run
        3: set(range(10)) | set(range(20, 55)),  # best run 35
        4: {0, 5, 62},                      # singletons
    }
    expected = {}
    for u, dset in cases.items():
        best = run = 0
        for d in range(63):
            run = run + 1 if d in dset else 0
            best = max(best, run)
        expected.setdefault(best, [0, 64, -1])
        expected[best][0] += 1
        expected[best][1] = min(expected[best][1], len(dset))
        expected[best][2] = max(expected[best][2], len(dset))
    exp_rows = sorted(
        (k, v[0], v[1], v[2]) for k, v in expected.items()
    )

    values = ",".join(
        f"({u}, {d})" for u, dset in cases.items() for d in dset
    )
    prologue = (
        f"WITH events_days(user_id, day_offset) AS (VALUES {values})"
    )
    sql = prologue + _Q228_TAIL_SQL.replace("WITH masks AS", ", masks AS", 1)
    duck = [tuple(r) for r in duckdb.sql(sql).fetchall()]
    spark_rows = [
        (
            r["longest_streak"],
            r["n_users"],
            r["min_active_days"],
            r["max_active_days"],
        )
        for r in spark.sql(sql).collect()
    ]
    assert duck == exp_rows and spark_rows == exp_rows


def test_recursive_reachability_matches_python_bfs(spark):
    """q215's shared-SQL formulation pinned against an INDEPENDENT
    Python implementation: both engines execute the same ANSI text, so
    the oracle hash can't catch a formulation bug — this BFS can.
    Recomputes the frequent-transition edge set (lead over (ts,
    event_id), self-loops dropped, support > 5% of transitions) and
    the ≤4-hop min-hop closure from the raw fixture rows."""
    from collections import Counter, deque

    import duckdb

    from gmail_etl_spark.plans.catalog import CATALOG, _ensure_loaded
    from tests.conftest import SF_DIR

    _ensure_loaded()
    got = {
        (r["src"], r["dst"]): r["min_hops"]
        for r in CATALOG["q215_recursive_reachability"]
        .builder(spark, SF_DIR)
        .collect()
    }

    rows = duckdb.sql(
        f"""SELECT user_id, epoch_us(ts) AS t, event_id, event_type
            FROM '{SF_DIR}/events.parquet'
            ORDER BY user_id, t, event_id"""
    ).fetchall()
    trans: Counter[tuple[str, str]] = Counter()
    total = 0
    prev_user = None
    prev_type = None
    for user, _, _, etype in rows:
        if user == prev_user and prev_type is not None:
            if prev_type != etype:
                trans[(prev_type, etype)] += 1
                total += 1
        prev_user, prev_type = user, etype
    edges = {e for e, c in trans.items() if c * 20 > total}

    adj: dict[str, list[str]] = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    exp: dict[tuple[str, str], int] = {}
    for s in adj:
        # BFS to 4 hops; the closure also reports src->...->src return
        # cycles (dist 0 is the seed, not a reported row), so the first
        # re-arrival at s is recorded separately
        dist = {s: 0}
        back_to_s = None
        q = deque([s])
        while q:
            u = q.popleft()
            hops = dist[u]
            if hops >= 4:
                continue
            for v in adj.get(u, []):
                if v == s and back_to_s is None:
                    back_to_s = hops + 1
                if v not in dist:
                    dist[v] = hops + 1
                    q.append(v)
        for node, hops in dist.items():
            if node != s:
                exp[(s, node)] = hops
        if back_to_s is not None:
            exp[(s, s)] = back_to_s

    assert got == exp and len(exp) > 0


def test_connected_components_random_graphs_vs_union_find(spark):
    """Seeded structural fuzz of the round-4 CC surgery (star-forest
    probe before each round, canonical fast path): random graphs of
    adversarial shapes — sparse, dense, long chains, shared-leaf
    bipartites, stars, self-loops/duplicates, and a near-clique whose
    pre-contraction leaves no edge — labeled identically to a Python
    union-find, through BOTH the default and the canonical_input entry
    (fed canonicalized edges)."""
    import random

    from pyspark.sql import functions as F

    from gmail_etl_spark.operators.dedup import connected_components

    rng = random.Random(20260814)

    def union_find(edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            parent[find(u)] = find(v)
        comp = {}
        for n in nodes:
            comp.setdefault(find(n), []).append(n)
        return {n: min(members) for members in comp.values() for n in members}

    shapes = []
    for trial in range(4):
        n = rng.randint(5, 60)
        m = rng.randint(1, 3 * n)
        shapes.append([(rng.randint(0, n), rng.randint(0, n)) for _ in range(m)])
    shapes.append([(i, i + 1) for i in range(40)])              # long chain
    shapes.append([(0, i) for i in range(1, 30)])               # one star
    shapes.append([(i, 100) for i in range(5)]
                  + [(i, 200) for i in range(3, 8)])            # shared leaves
    shapes.append([(1, 1), (2, 3), (3, 2), (2, 3)])             # loops + dups
    shapes.append([(a, b) for a in range(12) for b in range(a + 1, 12)
                   if (a + b) % 5 or a == 0])                   # near-clique

    for edges in shapes:
        clean = {(min(u, v), max(u, v)) for u, v in edges if u != v}
        if not clean:
            continue
        nodes = {x for e in clean for x in e}
        expected = union_find(clean, nodes)

        df = spark.createDataFrame(list(edges), "u long, v long")
        got = {
            (r["node"], r["component"])
            for r in connected_components(df).collect()
        }
        cdf = spark.createDataFrame(sorted(clean), "u long, v long")
        got_fast = {
            (r["node"], r["component"])
            for r in connected_components(cdf, canonical_input=True).collect()
        }
        exp = set(expected.items())
        assert got == exp and got_fast == exp, (edges, got, exp)


def test_capped_pair_candidates_complete_random_buckets(spark):
    """Seeded structural fuzz of ``capped_pair_candidates(...,
    complete=True)`` (VERDICT r6 #7): the diagonal/off-diagonal chunk
    CASE is exactness-critical for the exact callers
    (jaccard_pairs_prefix, dhash multi-index), and the fixed boundary
    cases can miss interactions — random bucket counts, sizes straddling
    the cap (including exact multiples, cap±1, singletons), overlapping
    id sets across buckets, and random caps, all compared against the
    Python-computed exact pair union.  Default (banded) mode on the same
    input must stay a subset."""
    import random

    from pyspark.sql import functions as F

    from gmail_etl_spark.operators.dedup import capped_pair_candidates

    rng = random.Random(20260815)

    cases = []
    for trial in range(10):
        cap = rng.choice([2, 3, 4, 7, 16])
        n_buckets = rng.randint(1, 5)
        universe = list(range(rng.randint(5, 40)))
        buckets = []
        for b in range(n_buckets):
            # sizes deliberately straddle the cap: undersized, exact
            # multiple, off-by-one, and far-oversized buckets all occur
            size = rng.choice(
                [2, cap, cap + 1, 2 * cap, 2 * cap - 1, 3 * cap + 1,
                 min(len(universe), 5 * cap)]
            )
            size = min(size, len(universe))
            ids = rng.sample(universe, size)
            buckets.append((rng.randint(0, 3), rng.randint(0, 10), ids))
        cases.append((cap, buckets))

    for cap, buckets in cases:
        want = set()
        for _, _, ids in buckets:
            for i in range(len(ids)):
                for j in range(i + 1, len(ids)):
                    a, b = ids[i], ids[j]
                    want.add((min(a, b), max(a, b)))
        df = spark.createDataFrame(
            [(b, bk, ids) for b, bk, ids in buckets if len(ids) > 1],
            "band int, bucket long, ids array<bigint>",
        )
        if df.count() == 0:
            continue
        got = {
            (r.a_id, r.b_id)
            for r in capped_pair_candidates(df, cap, complete=True).collect()
        }
        assert got == want, (cap, [len(i) for _, _, i in buckets],
                             len(got), len(want))
        banded = {
            (r.a_id, r.b_id)
            for r in capped_pair_candidates(df, cap).collect()
        }
        assert banded <= want
