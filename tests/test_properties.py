"""Property-based spot checks (Hypothesis) — SURVEY.md §5.4.

Each property mirrors a correctness invariant the reference relies on
implicitly; examples are generated, pushed through the Spark operator,
and checked against a straight-line Python model. Example counts are kept
small (Spark-job-per-example); the pinned seeds make runs deterministic.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from hdfs_with_pyspark_spark.operators.pairs import canonicalize_pair
from hdfs_with_pyspark_spark.operators.spatial import nearest_city
from hdfs_with_pyspark_spark.operators.windows import streaks

SLOW = settings(max_examples=8, deadline=None,
                suppress_health_check=[HealthCheck.function_scoped_fixture])


def _hav_kernel(lat1, lon1, lat2, lon2):
    """The engine's ACTUAL argmin key (operators/spatial.py): the
    pre-asin haversine kernel a = sin^2(dlat/2) + cos cos sin^2(dlon/2),
    with the engine's exact operation order. Modeling the full
    2R*asin(sqrt(a)) distance instead is WRONG at float boundaries:
    asin(sqrt(.)) compresses near-ties, so two cities whose kernels
    differ can round to bit-equal distances — the model would then
    apply its id tiebreak where the engine (correctly, more precisely)
    still sees a strict order. Hypothesis found exactly that case
    (cities 1.19e-07 degrees apart)."""
    k = math.pi / 180
    s1 = math.sin((lat1 - lat2) * k / 2.0)
    s2 = math.sin((lon1 - lon2) * k / 2.0)
    return s1 ** 2 + math.cos(lat1 * k) * math.cos(lat2 * k) * s2 ** 2


coord = st.tuples(st.floats(min_value=-80, max_value=80),
                  st.floats(min_value=-179, max_value=179))


@SLOW
@given(points=st.lists(coord, min_size=1, max_size=8),
       cities=st.lists(coord, min_size=1, max_size=5))
def test_nearest_city_total_and_argmin(spark, points, cities):
    pts = spark.createDataFrame(
        [(i, la, lo) for i, (la, lo) in enumerate(points)],
        "pid int, lat double, lon double")
    cts = spark.createDataFrame(
        [(i, f"c{i}", la, lo) for i, (la, lo) in enumerate(cities)],
        "city_id int, city string, city_lat double, city_lon double")
    out = {r["pid"]: r["city_id"]
           for r in nearest_city(pts, cts).collect()}
    # total: every point assigned exactly once
    assert set(out) == set(range(len(points)))
    # argmin with lowest-id tiebreak matches the Python model of the
    # engine's kernel comparison (lexicographic min over (a, id) —
    # exactly the struct least() the engine emits)
    for i, (la, lo) in enumerate(points):
        dists = [(_hav_kernel(la, lo, cla, clo), cid)
                 for cid, (cla, clo) in enumerate(cities)]
        want = min(dists)[1]
        assert out[i] == want


@SLOW
@given(pairs=st.lists(st.tuples(st.integers(0, 9), st.integers(0, 9)),
                      max_size=20))
def test_canonicalize_pair_invariants(spark, pairs):
    df = spark.createDataFrame([(a, b) for a, b in pairs] or [(0, 0)],
                               "u long, v long")
    if not pairs:
        df = df.limit(0)
    out = [(r["user_left"], r["user_right"])
           for r in canonicalize_pair(df, "u", "v").collect()]
    # orientation: always (max, min); no self-pairs
    assert all(a > b for a, b in out)
    # as undirected multisets: exactly the non-self input pairs
    want = sorted((max(a, b), min(a, b)) for a, b in pairs if a != b)
    assert sorted(out) == want


@SLOW
@given(days_a=st.sets(st.integers(0, 20), min_size=1, max_size=12),
       days_b=st.sets(st.integers(0, 20), max_size=12))
def test_streaks_match_rank_algebra_model(spark, days_a, days_b):
    # Streaks are runs of a user's *activity sequence* spent in one city
    # (reference project_step_1.py:56-62: active days, not calendar days):
    # a run breaks when a different city's active day interleaves, not on
    # calendar gaps. Cross-check the operator against a direct Python
    # model of the dense_rank - row_number island algebra.
    import datetime
    base = datetime.date(2024, 1, 1)
    rows = [("u", "A", base + datetime.timedelta(d)) for d in days_a] + \
           [("u", "B", base + datetime.timedelta(d)) for d in days_b]
    df = spark.createDataFrame(rows, "user_id string, city string, dt date")
    out = sorted((r["city"], r["streak_len"], r["streak_end"])
                 for r in streaks(df, key="user_id", group="city",
                                  date_col="dt").collect())

    all_days = sorted({d for _, _, d in rows}, reverse=True)
    rk = {d: i + 1 for i, d in enumerate(all_days)}
    want = []
    for city, days in (("A", days_a), ("B", days_b)):
        islands: dict[int, list] = {}
        for rn, d in enumerate(
                sorted((base + datetime.timedelta(x) for x in days),
                       reverse=True), start=1):
            islands.setdefault(rk[d] - rn, []).append(d)
        want += [(city, len(v), max(v)) for v in islands.values()]
    assert out == sorted(want)
    # islands partition each city's active days
    assert sum(n for c, n, _ in out if c == "A") == len(days_a)
    assert sum(n for c, n, _ in out if c == "B") == len(days_b)


@SLOW
@given(texts=st.lists(st.text(alphabet="ab ", min_size=0, max_size=30),
                      min_size=1, max_size=6))
def test_fingerprint_depends_only_on_token_stream(spark, texts):
    from hdfs_with_pyspark_spark.llm.textops import (
        MERSENNE31, fold_hash, hash31, tokens)
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id int, text string")
    fps = {r["doc_id"]: r["fp"] for r in df.select(
        "doc_id",
        fold_hash(F.transform(tokens(F.col("text")), hash31)).alias("fp")
    ).collect()}
    # range invariant
    assert all(0 <= fp < MERSENNE31 for fp in fps.values())
    # whitespace-normalization invariance: same token stream => same fp
    norm = {i: tuple(t.split()) for i, t in enumerate(texts)}
    for i in fps:
        for j in fps:
            if norm[i] == norm[j]:
                assert fps[i] == fps[j]


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(target=st.lists(st.tuples(st.integers(0, 30), st.integers(-5, 5)),
                       min_size=1, max_size=20, unique_by=lambda t: t[0]),
       batch=st.lists(st.tuples(st.integers(0, 30), st.integers(-5, 5)),
                      min_size=1, max_size=20, unique_by=lambda t: t[0]))
def test_merge_upsert_idempotent_and_complete(spark, target, batch):
    """Upsert algebra: applying the same batch twice equals once
    (idempotence), every batch key holds the batch value, every
    untouched target key survives unchanged."""
    from hdfs_with_pyspark_spark.operators.merge import merge_upsert
    t = spark.createDataFrame(target, "k long, v long")
    s = spark.createDataFrame(batch, "k long, v long")
    once = merge_upsert(t, s, "k").drop("updated")
    twice = merge_upsert(once, s, "k").drop("updated")
    got_once = {r["k"]: r["v"] for r in once.collect()}
    got_twice = {r["k"]: r["v"] for r in twice.collect()}
    assert got_once == got_twice
    want = dict(target)
    want.update(dict(batch))
    assert got_once == want


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(pts=st.lists(st.tuples(st.floats(-44, -10.01, allow_nan=False),
                              st.floats(112, 153.99, allow_nan=False)),
                    min_size=1, max_size=30))
def test_morton_code_bounds_and_locality(spark, pts):
    """The Morton code of b-bit quantized coords stays inside [0, 4^b),
    and equal points always map to equal codes (determinism)."""
    from hdfs_with_pyspark_spark.operators.zorder import morton_code, quantize
    bits = 6
    df = spark.createDataFrame(pts, "lat double, lon double")
    z = df.select(
        morton_code(quantize(F.col("lat"), -44.0, -10.0, bits),
                    quantize(F.col("lon"), 112.0, 154.0, bits),
                    bits).alias("z"),
        "lat", "lon").collect()
    for r in z:
        assert 0 <= r["z"] < 4 ** bits
    by_pt = {}
    for r in z:
        by_pt.setdefault((r["lat"], r["lon"]), set()).add(r["z"])
    assert all(len(v) == 1 for v in by_pt.values())


# --------------------------------------------------------------- BPE trainer

@SLOW
@given(docs=st.lists(
    st.lists(st.sampled_from(["ab", "aab", "ba", "abab", "bb", "a"]),
             min_size=1, max_size=6).map(" ".join),
    min_size=1, max_size=4))
def test_bpe_trainer_matches_python_model(spark, docs):
    """train_bpe == a straight-line Python BPE on arbitrary corpora:
    same winning pair, same count, same greedy merge application, every
    round (ties included — small alphabets force plenty)."""
    from collections import Counter

    from hdfs_with_pyspark_spark.llm.bpe import train_bpe

    def model(texts, n_merges):
        words = Counter()
        for t in texts:
            for w in t.lower().split():
                if w.isalpha() and w == w.lower():
                    words[w] += 1
        reps = {w: list(w) for w in words}
        rules = []
        for rnd in range(1, n_merges + 1):
            pairs = Counter()
            for w, n in words.items():
                syms = reps[w]
                for i in range(len(syms) - 1):
                    pairs[(syms[i], syms[i + 1])] += n
            if not pairs:
                break
            (l, r), cnt = min(pairs.items(),
                              key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
            rules.append((rnd, l, r, cnt))
            for w in reps:
                syms, out, i = reps[w], [], 0
                while i < len(syms):
                    if (i + 1 < len(syms)
                            and syms[i] == l and syms[i + 1] == r):
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                reps[w] = out
        return rules

    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)],
                               "doc_id long, text string")
    assert train_bpe(df, n_merges=3) == model(docs, 3)


# ----------------------------------------------------------- triangle counts

@SLOW
@given(subs=st.lists(st.tuples(st.integers(0, 7), st.integers(1, 3)),
                     min_size=1, max_size=14))
def test_triangles_match_bruteforce(spark, monkeypatch, subs):
    """channel_triangles == itertools brute force over the capped
    co-membership graph, for arbitrary (user, channel) memberships."""
    from itertools import combinations

    from hdfs_with_pyspark_spark import state
    from hdfs_with_pyspark_spark.plans import graph as g

    cap = 3
    rows = [(i, "signup", u, '{"k": %d}' % ch)
            for i, (u, ch) in enumerate(subs)]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, user_id long, props string")
    # every example is new data under the same sf_dir
    state.clear(spark)
    monkeypatch.setattr(g, "read_table", lambda s, d, n: ev)
    got = {r["user_id"]: r["n_triangles"]
           for r in g.channel_triangles(spark, "x",
                                        max_channel_members=cap).collect()}

    members: dict[int, set[int]] = {}
    for u, ch in set(subs):
        members.setdefault(ch, set()).add(u)
    edges = set()
    for ch, us in members.items():
        for a, b in combinations(sorted(us)[:cap], 2):
            edges.add((a, b))
    nodes = {u for u, _ in subs}
    expect = {u: 0 for u in nodes}
    for a, b, c in combinations(sorted(nodes), 3):
        if {(a, b), (b, c), (a, c)} <= edges:
            for x in (a, b, c):
                expect[x] += 1
    assert got == expect


@SLOW
@given(vals=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 5000)),
                     min_size=1, max_size=400))
def test_hll_union_rollup_matches_global_sketch(spark, vals):
    """The mergeability invariant distinct_sketch_audit relies on:
    unioning per-group HLL sketches yields EXACTLY the estimate of one
    sketch built over all rows (DataSketches HLL union is lossless over
    same-config sketches), and both sit within 5% of the exact distinct
    count. Exercised over random group layouts so no particular
    partitioning of values into groups can break the rollup."""
    df = spark.createDataFrame(vals, "grp int, v int")
    per = df.groupBy("grp").agg(F.hll_sketch_agg("v").alias("sk"))
    merged = (per.agg(F.hll_union_agg("sk").alias("sk"))
                 .select(F.hll_sketch_estimate("sk").alias("est"))
                 .collect()[0]["est"])
    direct = (df.agg(F.hll_sketch_estimate(
                  F.hll_sketch_agg("v")).alias("est"))
                .collect()[0]["est"])
    exact = len({v for _, v in vals})
    assert merged == direct
    assert abs(merged - exact) <= 0.05 * exact


@SLOW
@given(lines=st.lists(
    st.tuples(st.integers(0, 3),        # orderkey
              st.integers(0, 3),        # suppkey
              st.integers(0, 200)),     # ship offset, days after orderdate
    min_size=1, max_size=20))
def test_sole_late_blame_matches_correlated_model(spark, monkeypatch, lines):
    # The Q21 scale rewrite (one per-order aggregate) must equal the
    # textbook correlated EXISTS/NOT-EXISTS semantics, here re-derived
    # in straight-line Python over random order/supplier layouts.
    import datetime
    from hdfs_with_pyspark_spark.plans import tpch_flows as tf

    base = datetime.datetime(2000, 1, 1)
    orders = {ok: base + datetime.timedelta(days=ok) for ok in {o for o, _, _ in lines}}
    li_rows = [(ok, sk, orders[ok] + datetime.timedelta(days=off))
               for ok, sk, off in lines]
    frames = {
        "lineitem": spark.createDataFrame(
            li_rows, "l_orderkey long, l_suppkey long, l_shipdate timestamp"),
        "orders": spark.createDataFrame(
            [(ok, d) for ok, d in orders.items()],
            "o_orderkey long, o_orderdate timestamp"),
        "supplier": spark.createDataFrame(
            [(k, f"s{k}") for k in range(4)], "s_suppkey long, s_name string"),
    }
    monkeypatch.setattr(tf, "read_table", lambda s, d, n: frames[n])

    got = {(r["s_name"], r["numwait"])
           for r in tf.supplier_sole_late_blame(spark, "unused").collect()}

    late = {}   # orderkey -> set of late suppliers
    supps = {}  # orderkey -> set of all suppliers
    for ok, sk, off in lines:
        supps.setdefault(ok, set()).add(sk)
        if off > tf.Q21_LATE_DAYS:
            late.setdefault(ok, set()).add(sk)
    blame = {}
    for ok, ls in late.items():
        if len(ls) == 1 and len(supps[ok]) > 1:
            (s,) = ls
            blame[s] = blame.get(s, 0) + 1
    want = {(f"s{s}", n) for s, n in blame.items()}
    assert got == want


def _lev(a: str, b: str) -> int:
    """Textbook DP Levenshtein — the model for the blocked fuzzy join."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(names=st.sets(st.text(alphabet="abc", min_size=0, max_size=6),
                     min_size=1, max_size=10),
       max_dist=st.integers(1, 3))
def test_blocked_fuzzy_pairs_match_bruteforce(spark, names, max_dist):
    # The length-band blocking must be EXACT: every pair within
    # levenshtein max_dist appears exactly once (a < b orientation),
    # nothing else appears, whatever the length distribution — including
    # empty strings and bands hanging below length 0.
    from hdfs_with_pyspark_spark.plans.affinity import blocked_fuzzy_pairs
    df = spark.createDataFrame([(n, 1) for n in names],
                               "p_name string, n_parts long")
    got = {(r["name_a"], r["name_b"]): r["lev_dist"]
           for r in blocked_fuzzy_pairs(df, max_dist=max_dist).collect()}
    ns = sorted(names)
    want = {}
    for i, a in enumerate(ns):
        for b in ns[i + 1:]:
            d = _lev(a, b)
            if d <= max_dist:
                want[(a, b)] = d
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ivs=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50),
                              st.integers(0, 30)),
                    min_size=1, max_size=12))
def test_sweepline_peak_matches_interval_model(spark, ivs):
    # The day-partitioned sweep (+1 at start, -1 at end, ORDER BY
    # t, delta DESC, default RANGE frame) must equal the brute-force
    # interval-overlap maximum: peak(day) = max over boundary instants
    # of #{intervals covering it}, with touching intervals concurrent.
    rows = [(d, s, s + dur) for d, s, dur in ivs]
    df = spark.createDataFrame(rows, "day int, st long, en long")
    pts = (df.select("day", F.col("st").alias("t"), F.lit(1).alias("delta"))
             .unionByName(df.select("day", F.col("en").alias("t"),
                                    F.lit(-1).alias("delta"))))
    from pyspark.sql import Window
    sweep = Window.partitionBy("day").orderBy(F.col("t").asc(),
                                              F.col("delta").desc())
    got = {r["day"]: r["peak"]
           for r in pts.withColumn("c", F.sum("delta").over(sweep))
                       .groupBy("day").agg(F.max("c").alias("peak"))
                       .collect()}
    want = {}
    for day in {d for d, _, _ in rows}:
        day_ivs = [(s, e) for d, s, e in rows if d == day]
        peak = max(sum(1 for s2, e2 in day_ivs if s2 <= t <= e2)
                   for s, _ in day_ivs for t in [s])
        want[day] = peak
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50),
                                 st.sampled_from("abc")),
                       min_size=1, max_size=25, unique_by=lambda e: (e[0], e[1])))
def test_markov_transition_algebra_matches_model(spark, events):
    # The lag-then-count transition build must equal the Python model:
    # per user, sort by (ts, event_id), count adjacent type pairs; the
    # ppm normalization is exact integer division per prev-type row.
    from pyspark.sql import Window
    rows = [(u, t, t, ty) for (u, t, ty) in events]  # event_id = ts (unique per user)
    df = spark.createDataFrame(rows, "user_id int, ts long, event_id long, event_type string")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (df.withColumn("prev", F.lag("event_type").over(w))
               .where(F.col("prev").isNotNull())
               .groupBy("prev", "event_type").agg(F.count("*").alias("n"))
               .withColumn("ppm", F.expr(
                   "(1000000 * n) div sum(n) over (partition by prev)")))
    got = {(r["prev"], r["event_type"]): (r["n"], r["ppm"])
           for r in trans.collect()}
    from collections import defaultdict
    cnt = defaultdict(int)
    by_user = defaultdict(list)
    for u, t, ty in events:
        by_user[u].append((t, ty))
    for u, evs in by_user.items():
        evs.sort()
        for (_, a), (_, b) in zip(evs, evs[1:]):
            cnt[(a, b)] += 1
    row_tot = defaultdict(int)
    for (a, _), n in cnt.items():
        row_tot[a] += n
    want = {k: (n, (1000000 * n) // row_tot[k[0]]) for k, n in cnt.items()}
    assert got == want


@SLOW
@given(orders=st.lists(
    st.tuples(st.integers(min_value=1, max_value=5),      # customer
              st.integers(min_value=0, max_value=60)),    # day offset
    min_size=2, max_size=24))
def test_survival_km_matches_python_model(spark, monkeypatch, orders):
    """orders_survival_km == a direct Python Kaplan-Meier on the same
    observation set (consecutive gaps = events, per-customer tail =
    censored), including d==n absorption and the nano-unit snapping."""
    import datetime
    import math as m

    from hdfs_with_pyspark_spark.plans import temporal as t
    base = datetime.date(2021, 1, 1)
    rows = [(k + 1, cust, (base + datetime.timedelta(days=off)).isoformat())
            for k, (cust, off) in enumerate(orders)]
    o = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, d string").selectExpr(
        "o_orderkey", "o_custkey", "CAST(d AS TIMESTAMP) AS o_orderdate")
    monkeypatch.setattr(t, "read_table", lambda s, dd, n: o)
    got = {r["t_days"]: (r["n_risk"], r["n_events"], r["survival_ppm"])
           for r in t.orders_survival_km(spark, "x").collect()}

    # python model
    by_cust = {}
    for cust, off in orders:
        by_cust.setdefault(cust, []).append(off)
    mx = max(off for _, off in orders)
    obs = []                                   # (time, is_event)
    for days in by_cust.values():
        days.sort()
        obs += [(b - a, 1) for a, b in zip(days, days[1:])]
        obs.append((mx - days[-1], 0))
    agg = {}
    for tt, e in obs:
        d, a = agg.get(tt, (0, 0))
        agg[tt] = (d + e, a + 1)
    total = len(obs)
    removed, cln, dead = 0, 0, False
    want = {}
    for tt in sorted(agg):
        d, a = agg[tt]
        n_risk = total - removed
        removed += a
        if d == 0:
            continue
        if d >= n_risk:
            dead = True
        else:
            cln += round(m.log(1.0 - d / n_risk) * 1e9)
        s_ppm = 0 if dead else round(m.exp(cln / 1e9) * 1e6)
        want[tt] = (n_risk, d, s_ppm)
    assert got == want


@SLOW
@given(lengths=st.lists(st.integers(min_value=1, max_value=40),
                        min_size=1, max_size=25))
def test_token_gini_matches_python_model(spark, monkeypatch, lengths):
    from hdfs_with_pyspark_spark.llm import text as tx
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * ln), "s", 1) for i, ln in enumerate(lengths)],
        "doc_id long, text string, source string, n_chars long")
    monkeypatch.setattr(tx, "read_table", lambda s, d, n: docs)
    r = tx.corpus_token_gini(spark, "x").collect()[0]
    xs = sorted(lengths)
    n, s = len(xs), sum(xs)
    t = sum((i + 1) * x for i, x in enumerate(xs))
    assert (r["n_docs"], r["total_tokens"]) == (n, s)
    assert r["gini_ppm"] == (1_000_000 * (2 * t - (n + 1) * s)) // (n * s)


def test_nearest_city_kernel_beats_distance_rounding(spark):
    """The Hypothesis-found float-boundary case, pinned: two cities
    1.192e-07 degrees apart from a point at (8, 0). Their full
    asin(sqrt(.)) distances round to bit-equal doubles, but the
    kernel sees the strict order — the engine must pick the TRULY
    nearer city (id 1 at lon 0.0), not the lower id."""
    pts = spark.createDataFrame([(0, 8.0, 0.0)],
                                "pid int, lat double, lon double")
    cts = spark.createDataFrame(
        [(0, "c0", 0.0, 1.192092896e-07), (1, "c1", 0.0, 0.0)],
        "city_id int, city string, city_lat double, city_lon double")
    out = {r["pid"]: r["city_id"] for r in nearest_city(pts, cts).collect()}
    a0 = _hav_kernel(8.0, 0.0, 0.0, 1.192092896e-07)
    a1 = _hav_kernel(8.0, 0.0, 0.0, 0.0)
    assert a1 < a0                       # the kernel sees the order
    d = lambda a: 2 * 6371.0 * math.asin(math.sqrt(a))
    assert d(a0) == d(a1)                # the distance rounds it away
    assert out[0] == 1
