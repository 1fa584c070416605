"""Temporal joins (as-of, banded range) and sketch aggregates."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from rust_graph_db_spark.operators.sketches import (approx_distinct,
                                                    approx_quantiles,
                                                    exact_stats)
from rust_graph_db_spark.operators.temporal import asof_join, range_join


def ts(s):
    return datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def trades(spark):
    return spark.createDataFrame(
        [(1, ts("2024-01-01T10:00:05"), "A"),
         (2, ts("2024-01-01T10:00:10"), "A"),
         (3, ts("2024-01-01T09:00:00"), "A"),
         (4, ts("2024-01-01T10:00:07"), "B")],
        "trade_id LONG, t TIMESTAMP, sym STRING")


@pytest.fixture(scope="module")
def quotes(spark):
    return spark.createDataFrame(
        [(101, ts("2024-01-01T10:00:03"), "A", 1.0),
         (102, ts("2024-01-01T10:00:05"), "A", 2.0),   # tie with trade 1
         (103, ts("2024-01-01T10:00:09"), "A", 3.0),
         (104, ts("2024-01-01T10:00:01"), "B", 9.0)],
        "quote_id LONG, t TIMESTAMP, sym STRING, px DOUBLE")


def test_asof_backward(trades, quotes):
    out = {r["trade_id"]: r["quote_id"]
           for r in asof_join(trades, quotes, on="sym", left_ts="t").collect()}
    # trade 1 @10:00:05 matches the equal-timestamp quote 102 (inclusive)
    assert out == {1: 102, 2: 103, 3: None, 4: 104}


def test_asof_forward(trades, quotes):
    out = {r["trade_id"]: r["quote_id"]
           for r in asof_join(trades, quotes, on="sym", left_ts="t",
                              direction="forward").collect()}
    # trade 3 @09:00 looks forward to the earliest quote 101; trade 2 has
    # no later A quote
    assert out == {1: 102, 2: None, 3: 101, 4: None}


def test_asof_duplicate_right_ts_deterministic(spark):
    # several right rows share the winning timestamp: the largest
    # payload struct wins, identically on every run (advisor r1 #2)
    left = spark.createDataFrame(
        [(1, ts("2024-01-01T10:00:10"), "A")], "lid LONG, t TIMESTAMP, k STRING")
    right = spark.createDataFrame(
        [(7, ts("2024-01-01T10:00:05"), "A", 1.0),
         (9, ts("2024-01-01T10:00:05"), "A", 1.0),
         (8, ts("2024-01-01T10:00:05"), "A", 5.0)],
        "rid LONG, t TIMESTAMP, k STRING, px DOUBLE")
    for direction in ("backward", "forward"):
        lt = left if direction == "backward" else left.withColumn(
            "t", F.lit(ts("2024-01-01T10:00:01")).cast("timestamp"))
        got = [asof_join(lt, right, on="k", left_ts="t",
                         direction=direction).first()["rid"]
               for _ in range(3)]
        # struct order is field order (rid first): max rid = 9
        assert got == [9, 9, 9], direction


def test_asof_tolerance(trades, quotes):
    out = {r["trade_id"]: r["quote_id"]
           for r in asof_join(trades, quotes, on="sym", left_ts="t",
                              tolerance=1.0).collect()}
    # 1s tolerance: trade 2 @10:00:10 still matches quote 103 @10:00:09,
    # but trade 3 (1h gap) and trade 4 (6s gap) do not
    assert out == {1: 102, 2: 103, 3: None, 4: None}


def test_asof_column_naming(trades, quotes):
    cols = asof_join(trades, quotes, on="sym", left_ts="t").columns
    # colliding right column 't' gets the suffix; left columns unchanged
    assert cols == ["trade_id", "t", "sym", "quote_id", "t_r", "px"]


def test_range_join_matches_naive(spark):
    # 200 events, 40 users — banded plan must equal the naive theta join
    ev = spark.range(200).select(
        F.col("id").alias("eid"),
        (F.col("id") % 40).alias("uid"),
        F.timestamp_seconds(1700000000 + F.xxhash64("id") % 7200).alias("t"))
    a = ev.select(F.col("eid").alias("ai"), F.col("uid"), F.col("t").alias("at"))
    b = ev.select(F.col("eid").alias("bi"), F.col("uid"), F.col("t").alias("bt"))
    banded = range_join(a, b, "at", "bt", -600.0, 600.0, on="uid") \
        .select("ai", "bi").collect()
    naive = a.join(b, "uid").where(
        (F.col("bt").cast("double") >= F.col("at").cast("double") - 600)
        & (F.col("bt").cast("double") <= F.col("at").cast("double") + 600)) \
        .select("ai", "bi").collect()
    assert sorted((r["ai"], r["bi"]) for r in banded) \
        == sorted((r["ai"], r["bi"]) for r in naive)
    assert len(naive) > 0


def test_range_join_inclusive_bounds(spark):
    a = spark.createDataFrame([(1, 100.0)], "i LONG, t DOUBLE")
    b = spark.createDataFrame(
        [(10, 90.0), (11, 110.0), (12, 89.9), (13, 110.1)],
        "j LONG, t DOUBLE")
    got = {r["j"] for r in
           range_join(a, b, "t", "t", -10.0, 10.0).collect()}
    assert got == {10, 11}


def test_sketches_track_exact(spark):
    ev = spark.range(20000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.xxhash64("id") % 1000).alias("u"),
        (F.abs(F.xxhash64(F.lit(7), "id")) % 10000 / 100.0).alias("v"))
    exact = {r["g"]: r for r in
             exact_stats(ev, "g", "v", "u").collect()}
    nd = {r["g"]: r["approx_nd"] for r in approx_distinct(ev, "g", "u").collect()}
    q = {r["g"]: r for r in approx_quantiles(ev, "g", "v").collect()}
    for g, e in exact.items():
        assert abs(nd[g] - e["nd"]) / e["nd"] < 0.1
        assert abs(q[g]["q_50"] - e["median"]) <= 2.0
        assert abs(q[g]["q_95"] - e["p95"]) <= 2.0


def test_cms_bounds_merge_and_exactness(spark):
    """CMS invariants: (1) estimates NEVER undercount, even with a
    width tight enough to force collisions; (2) a width far above the
    vocabulary makes every estimate exact; (3) sketches are mergeable —
    summing two halves' cells cell-for-cell equals the whole-corpus
    sketch (the property that makes CMS the bounded-state streaming /
    multi-batch counter)."""
    import pytest

    from rust_graph_db_spark.operators.sketches import (cms_estimate,
                                                        cms_merge,
                                                        cms_table)

    data = ([("a",)] * 50 + [("b",)] * 20 + [("c",)] * 5
            + [(f"x{i}",) for i in range(200)])
    exact = {}
    for (v,) in data:
        exact[v] = exact.get(v, 0) + 1
    df = spark.createDataFrame(data, "v STRING")

    # the estimator reads (depth, width) FROM the sketch — a tight
    # sketch probes with its own geometry, never the defaults
    tight = cms_table(df, "v", depth=3, width=32)
    est = {r.v: r.est for r in cms_estimate(tight, df, "v").collect()}
    assert set(est) == set(exact)
    assert all(est[v] >= c for v, c in exact.items())
    assert any(est[v] > c for v, c in exact.items())  # 203 keys, 32 buckets

    wide = cms_table(df, "v", depth=4, width=1 << 20)
    est_w = {r.v: r.est for r in cms_estimate(wide, df, "v").collect()}
    assert est_w == exact

    h1 = spark.createDataFrame(data[:100], "v STRING")
    h2 = spark.createDataFrame(data[100:], "v STRING")
    merged = cms_merge(cms_table(h1, "v", depth=3, width=32),
                       cms_table(h2, "v", depth=3, width=32))
    assert (sorted(map(tuple, merged.collect()))
            == sorted(map(tuple, tight.collect())))
    # geometry mismatch is an error, not garbage counts
    with pytest.raises(ValueError, match="geometry"):
        cms_merge(tight, wide)
    # depth mismatch at EQUAL width is the silent-undercount hazard:
    # rows d=3 would hold only the deeper sketch's counts and
    # min-over-depth would undercount the shallower side's items
    with pytest.raises(ValueError, match="geometry"):
        cms_merge(cms_table(h1, "v", depth=3, width=32),
                  cms_table(h2, "v", depth=4, width=32))


# ------------------------------------------------------------- event funnels

def test_funnel_vs_duckdb(spark, duck):
    from rust_graph_db_spark.operators.temporal import funnel

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = sorted(
        (r.user_id, r.stage, round(r.first_ts, 6), round(r.last_ts, 6))
        for r in funnel(ev, ["view", "click", "purchase"],
                        within=86400.0 * 7).collect())
    sql = """
    WITH s1 AS (SELECT user_id u, min(epoch(ts)) t1
                FROM events WHERE event_type = 'view' GROUP BY 1),
    s2 AS (SELECT e.user_id u, s1.t1, min(epoch(e.ts)) t2
           FROM events e JOIN s1 ON s1.u = e.user_id
           WHERE e.event_type = 'click' AND epoch(e.ts) > s1.t1
             AND epoch(e.ts) - s1.t1 <= 604800 GROUP BY 1, 2),
    s3 AS (SELECT e.user_id u, s2.t1, min(epoch(e.ts)) t3
           FROM events e JOIN s2 ON s2.u = e.user_id
           WHERE e.event_type = 'purchase' AND epoch(e.ts) > s2.t2
             AND epoch(e.ts) - s2.t1 <= 604800 GROUP BY 1, 2)
    SELECT u, 3 AS stage, t1, t3 AS tk FROM s3
    UNION ALL
    SELECT u, 2, t1, t2 FROM s2 WHERE u NOT IN (SELECT u FROM s3)
    UNION ALL
    SELECT u, 1, t1, t1 FROM s1 WHERE u NOT IN (SELECT u FROM s2)
    """
    exp = sorted((int(u), int(s), round(a, 6), round(b, 6))
                 for u, s, a, b in duck.execute(sql).fetchall())
    assert got == exp
    # a user that never does step 1 is absent
    assert all(s >= 1 for _, s, _, _ in got)


def test_funnel_basics(spark):
    from rust_graph_db_spark.operators.temporal import funnel

    rows = [
        # u1 completes in order; u2 has click before view (stage 1);
        # u3 completes but outside the window; u4 never views
        (1, 10.0, "view"), (1, 20.0, "click"), (1, 30.0, "purchase"),
        (2, 10.0, "click"), (2, 20.0, "view"),
        (3, 10.0, "view"), (3, 20.0, "click"), (3, 500.0, "purchase"),
        (4, 10.0, "click"), (4, 20.0, "purchase"),
        # u5 views then purchases with NO click: must stay at stage 1
        # (regression: a stage-1 row must not satisfy stage 3's join)
        (5, 10.0, "view"), (5, 20.0, "purchase"),
    ]
    ev = spark.createDataFrame(rows, "user_id LONG, ts DOUBLE, et STRING")
    got = {r.user_id: r.stage
           for r in funnel(ev, ["view", "click", "purchase"],
                           type_col="et", within=100.0).collect()}
    assert got == {1: 3, 2: 1, 3: 2, 5: 1}


def test_cohort_retention_vs_duckdb(spark, duck):
    from rust_graph_db_spark.operators.temporal import cohort_retention

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = sorted(
        (r.cohort, r.k, r.active, r.cohort_size, r.retention)
        for r in cohort_retention(ev, period=86400.0 * 7).collect())
    sql = """
    WITH f AS (SELECT user_id u, min(epoch(ts)) t0 FROM events GROUP BY 1),
    fc AS (SELECT u, CAST(floor(t0 / 604800.0) AS BIGINT) cohort FROM f),
    act AS (SELECT DISTINCT e.user_id u, fc.cohort,
                   CAST(floor(epoch(e.ts) / 604800.0) AS BIGINT)
                   - fc.cohort AS k
            FROM events e JOIN fc ON fc.u = e.user_id),
    sizes AS (SELECT cohort, count(*) cohort_size FROM fc GROUP BY 1)
    SELECT a.cohort, a.k, count(*) active, s.cohort_size,
           round(count(*) / CAST(s.cohort_size AS DOUBLE), 6) retention
    FROM act a JOIN sizes s ON s.cohort = a.cohort
    WHERE a.k <= 8
    GROUP BY a.cohort, a.k, s.cohort_size
    """
    exp = sorted((int(c), int(k), int(a), int(n), float(r))
                 for c, k, a, n, r in duck.execute(sql).fetchall())
    assert got == exp


def test_rolling_active_users_vs_duckdb(spark, duck):
    from rust_graph_db_spark.operators.temporal import rolling_active_users

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = sorted((r.period_id, r.active_users, r.window_users)
                 for r in rolling_active_users(ev, window_periods=7).collect())
    sql = """
    WITH pu AS (SELECT DISTINCT user_id u,
                CAST(floor(epoch(ts) / 86400.0) AS BIGINT) pid FROM events),
    daily AS (SELECT pid, count(*) active FROM pu GROUP BY pid),
    win AS (SELECT d.pid anchor, count(DISTINCT p.u) wu
            FROM daily d JOIN pu p
              ON p.pid <= d.pid AND p.pid > d.pid - 7
            GROUP BY d.pid)
    SELECT d.pid, d.active, w.wu FROM daily d JOIN win w ON w.anchor = d.pid
    """
    exp = sorted((int(a), int(b), int(c))
                 for a, b, c in duck.execute(sql).fetchall())
    assert got == exp and len(got) > 10


# ------------------------------------------------------------ r7: KMV

def test_kmv_table_matches_duckdb_and_merges(spark, duck):
    from pyspark.sql import functions as F

    from rust_graph_db_spark.operators.sketches import (kmv_estimate,
                                                        kmv_merge,
                                                        kmv_table)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sk = kmv_table(docs, "text", k=64)
    got = sorted((int(r.rnk), int(r.h)) for r in sk.collect())
    exp = sorted((int(a), int(b)) for a, b in duck.execute("""
        WITH h AS (SELECT DISTINCT CAST(concat('0x',
                     substr(md5(CAST(text AS VARCHAR)), 1, 15)) AS BIGINT) h
                   FROM documents WHERE text IS NOT NULL)
        SELECT row_number() OVER (ORDER BY h), h
        FROM h ORDER BY h LIMIT 64""").fetchall())
    assert got == exp and len(got) == 64

    # merge of disjoint halves == sketch of the whole
    a = kmv_table(docs.where(F.col("doc_id") % 2 == 0), "text", k=64)
    b = kmv_table(docs.where(F.col("doc_id") % 2 == 1), "text", k=64)
    merged = sorted((int(r.rnk), int(r.h))
                    for r in kmv_merge(a, b).collect())
    assert merged == got

    # estimate is within the k=64 design error (~12.5% rsd) of exact,
    # and EXACT below k (sketch smaller than its k)
    est = kmv_estimate(sk).first()
    exact = docs.select("text").distinct().count()
    assert abs(est.n_est - exact) / exact < 0.4
    tiny = kmv_table(docs.limit(10), "text", k=64)
    assert int(kmv_estimate(tiny).first().k) == tiny.count()


def test_kmv_rejects_k_below_2(spark):
    import pytest as _pytest

    from rust_graph_db_spark.operators.sketches import kmv_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    with _pytest.raises(ValueError):
        kmv_table(docs, "text", k=1)


# --------------------------------------------------------- r7: rollup

def test_rollup_stats_matches_duckdb(spark, duck):
    from rust_graph_db_spark.operators.sketches import (rollup_stats,
                                                        rollup_stats_sql)

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = sorted(str(tuple(r))
                 for r in rollup_stats(ev, ["event_type"], "value")
                 .collect())
    exp = sorted(str(tuple(r)) for r in duck.execute(
        rollup_stats_sql("events", ["event_type"], "value")).fetchall())
    assert got == exp
    # lattice shape: 5 leaf rows + 1 grand total
    assert len(got) == 6


# ----------------------------------------------- r7 s3: cube lattice

def test_cube_stats_matches_duckdb(spark, duck):
    from rust_graph_db_spark.operators.sketches import (cube_stats,
                                                        cube_stats_sql)

    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .withColumn("day", F.date_format("ts", "yyyy-MM-dd")))
    got = sorted(str(tuple(r))
                 for r in cube_stats(ev, ["event_type", "day"], "value")
                 .collect())
    duck.execute("CREATE OR REPLACE VIEW ev_cube AS SELECT event_type, "
                 "strftime(ts, '%Y-%m-%d') AS day, value FROM events")
    exp = sorted(str(tuple(r)) for r in duck.execute(
        cube_stats_sql("ev_cube", ["event_type", "day"], "value"))
        .fetchall())
    assert got == exp
    # full 2^2 lattice: cube has day-only subtotal rows rollup lacks
    days = ev.select("day").distinct().count()
    types = ev.select("event_type").distinct().count()
    cells = ev.select("event_type", "day").distinct().count()
    assert len(got) == cells + days + types + 1


# ------------------------------------------- r7 s3: exact quantiles

def test_exact_quantiles_matches_duckdb(spark, duck):
    from rust_graph_db_spark.operators.sketches import (
        exact_quantiles, exact_quantiles_sql)

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    probs = [0.0, 0.01, 0.25, 0.5, 0.75, 0.99, 1.0]
    got = [(r.q, r.v) for r in
           exact_quantiles(li, "l_quantity", probs).collect()]
    exp = [tuple(r) for r in duck.execute(
        exact_quantiles_sql("lineitem", "l_quantity", probs)).fetchall()]
    assert got == exp
    # q=0 is the min, q=1 the max, and the list is monotone
    vs = [v for _, v in got]
    assert vs == sorted(vs)
    mn, mx = li.agg(F.min("l_quantity"), F.max("l_quantity")).first()
    assert vs[0] == float(mn) and vs[-1] == float(mx)


def test_exact_quantiles_ties_and_nulls(spark, duck):
    """Heavy ties + NULLs: the rank substrate must pick the same value
    DuckDB's quantile_disc does whatever the tie order."""
    from rust_graph_db_spark.operators.sketches import exact_quantiles

    rows = [(float(v),) for v in [1, 1, 1, 1, 2, 2, 3, 9, 9, 9, 9, 9]]
    df = spark.createDataFrame(rows + [(None,)], "x DOUBLE")
    duck.execute("CREATE OR REPLACE TABLE q_ties(x DOUBLE)")
    duck.executemany("INSERT INTO q_ties VALUES (?)",
                     rows + [(None,)])
    probs = [0.1, 0.3, 0.5, 0.6, 0.9]
    got = [(r.q, r.v) for r in exact_quantiles(df, "x", probs).collect()]
    exp = []
    for q in probs:
        exp.append((q, duck.execute(
            f"SELECT quantile_disc(x, {q}) FROM q_ties "
            "WHERE x IS NOT NULL").fetchone()[0]))
    assert got == exp


def test_exact_quantiles_all_null_raises(spark):
    import pytest as _pytest

    from rust_graph_db_spark.operators.sketches import exact_quantiles

    df = spark.createDataFrame([(None,), (None,)], "x DOUBLE")
    with _pytest.raises(ValueError):
        exact_quantiles(df, "x", [0.5])


# ---------------------------------------- r7 s3: top-k per group

def test_topk_per_group_matches_duckdb(spark, duck):
    from rust_graph_db_spark.operators.sketches import topk_per_group

    o = (spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
         .select("o_custkey", "o_orderkey", "o_totalprice"))
    got = sorted(str(tuple(r)) for r in topk_per_group(
        o, ["o_custkey"], "o_totalprice", 3,
        tiebreak="o_orderkey").collect())
    exp = sorted(str(tuple(r)) for r in duck.execute(
        "SELECT o_custkey, o_orderkey, o_totalprice, "
        "CAST(row_number() OVER (PARTITION BY o_custkey "
        "ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn "
        "FROM orders QUALIFY rn <= 3").fetchall())
    assert got == exp
    # every group has at most k rows, ranks are 1..k
    per = topk_per_group(o, ["o_custkey"], "o_totalprice", 3,
                         tiebreak="o_orderkey") \
        .groupBy("o_custkey").agg(F.count("*").alias("c"),
                                  F.max("rn").alias("m")).collect()
    assert all(r.c <= 3 and r.m == r.c for r in per)


def test_topk_per_group_plan_uses_window_group_limit(spark):
    """The 100 TB claim: Spark rewrites the rank filter into
    WindowGroupLimit — per-map-task partial top-k BEFORE the shuffle,
    so the exchange never carries the full corpus."""
    from rust_graph_db_spark import probe
    from rust_graph_db_spark.operators.sketches import topk_per_group

    o = (spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
         .select("o_custkey", "o_orderkey", "o_totalprice"))
    plan = probe.plan(topk_per_group(o, ["o_custkey"], "o_totalprice", 3,
                                     tiebreak="o_orderkey"))
    assert "WindowGroupLimit" in plan
    # both the partial (pre-shuffle) and final form appear
    assert plan.count("WindowGroupLimit") >= 2


# ------------------------------------------ r7 s3b: grouped quantiles

def test_grouped_quantiles_matches_duckdb(spark, duck):
    from rust_graph_db_spark.operators.sketches import (
        grouped_quantiles, grouped_quantiles_sql)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    probs = [0.0, 0.1, 0.5, 0.9, 1.0]
    got = [tuple(r) for r in grouped_quantiles(
        docs, "lang", "n_chars", probs).collect()]
    exp = [tuple(r) for r in duck.execute(grouped_quantiles_sql(
        "documents", "lang", "n_chars", probs)).fetchall()]
    assert got == exp
    # per group: monotone in q, q=0 is the group min, q=1 the max
    from collections import defaultdict
    per = defaultdict(list)
    for g, q, v in got:
        per[g].append(v)
    mins = {r["lang"]: (float(r["mn"]), float(r["mx"])) for r in
            docs.groupBy("lang").agg(F.min("n_chars").alias("mn"),
                                     F.max("n_chars").alias("mx"))
            .collect()}
    for g, vs in per.items():
        assert vs == sorted(vs)
        assert vs[0] == mins[g][0] and vs[-1] == mins[g][1]


def test_grouped_quantiles_null_group_survives(spark, duck):
    from rust_graph_db_spark.operators.sketches import grouped_quantiles

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0),
         (None, 10.0), (None, 20.0), ("b", None)],
        "g STRING, x DOUBLE")
    got = {(r.g, r.q): r.v for r in grouped_quantiles(
        df, "g", "x", [0.5]).collect()}
    # NULL group gets its own quantile; all-NULL group b is absent
    assert got == {("a", 0.5): 2.0, (None, 0.5): 10.0}


# ------------------------------------------------- r7 s3b: MMR

def test_mmr_topk_matches_greedy_reference(spark):
    """Pure-python greedy MMR over the collected vectors must pick the
    same ids in the same order."""
    import numpy as np

    from rust_graph_db_spark.operators.similarity import mmr_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = emb.collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
            for r in rows}
    q = vecs[0]

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    lam = 0.5
    cand = {i: cos(q, v) for i, v in vecs.items() if i != 0}
    sel = []
    for _ in range(5):
        best = max(
            ((lam * rel - (1 - lam) * max(
                (cos(vecs[i], vecs[s]) for s, _ in sel), default=0.0),
              i, rel) for i, rel in cand.items()
             if i not in {s for s, _ in sel}),
            key=lambda t: (t[0], -t[1]))
        sel.append((best[1], best[0]))
    got = [(r.step, r.id) for r in
           mmr_topk(emb, list(q), k=5, lam=lam, exclude_id=0).collect()]
    assert got == [(j + 1, s) for j, (s, _) in enumerate(sel)]


def test_mmr_topk_diversifies(spark):
    """With lam < 1 a selected near-duplicate's twin must NOT be
    picked next even when it is the 2nd most relevant."""
    from rust_graph_db_spark.operators.similarity import mmr_topk

    # q = [1,0]; 1 and 2 nearly parallel to q (near-dups of each
    # other), 3 orthogonal. At lam=0.3 the ~1.0 penalty on the twin
    # outweighs its relevance edge; at lam=1 relevance wins again.
    df = spark.createDataFrame(
        [(1, [1.0, 0.01]), (2, [1.0, 0.012]), (3, [0.0, 1.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = [r.id for r in mmr_topk(df, [1.0, 0.0], k=2,
                                  lam=0.3).collect()]
    assert out[0] == 1 and out[1] == 3  # not the near-dup 2
    # lam=1 is pure relevance: the near-dup wins again
    rel = [r.id for r in mmr_topk(df, [1.0, 0.0], k=2,
                                  lam=1.0).collect()]
    assert rel == [1, 2]


def test_mmr_topk_rejects_bad_params(spark):
    import pytest as _pytest

    from rust_graph_db_spark.operators.similarity import mmr_topk

    df = spark.createDataFrame([(1, [1.0, 0.0])],
                               "vec_id LONG, embedding ARRAY<DOUBLE>")
    with _pytest.raises(ValueError):
        mmr_topk(df, [1.0, 0.0], k=0)
    with _pytest.raises(ValueError):
        mmr_topk(df, [1.0, 0.0], lam=1.5)


def test_quantiles_reject_out_of_range_probs(spark):
    import pytest as _pytest

    from rust_graph_db_spark.operators.sketches import (
        exact_quantiles, grouped_quantiles)

    df = spark.createDataFrame([("a", 1.0)], "g STRING, x DOUBLE")
    for bad in ([1.5], [-0.1], [95], []):
        with _pytest.raises(ValueError):
            exact_quantiles(df, "x", bad)
        with _pytest.raises(ValueError):
            grouped_quantiles(df, "g", "x", bad)


def test_mmr_topk_string_ids(spark):
    from rust_graph_db_spark.operators.similarity import mmr_topk

    df = spark.createDataFrame(
        [("a", [1.0, 0.01]), ("b", [1.0, 0.012]), ("c", [0.0, 1.0])],
        "vec_id STRING, embedding ARRAY<DOUBLE>")
    out = [(r.step, r.id) for r in
           mmr_topk(df, [1.0, 0.0], k=2, lam=0.3).collect()]
    assert out == [(1, "a"), (2, "c")]
