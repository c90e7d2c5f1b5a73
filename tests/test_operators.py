from __future__ import annotations

from datetime import date

from pyspark.sql import functions as F

from insect_observation_data_pipeline_spark.operators import (
    Rule,
    distinct_on,
    interval_join,
    priority_match,
    scd2_end_date,
    split_valid_invalid,
    top_k,
)


def test_quarantine_first_rule_wins(spark):
    df = spark.createDataFrame(
        [(1, None, 5), (2, "x", 99), (3, "x", 5)], "id int, name string, v int"
    )
    rules = [
        Rule(F.col("name").isNull(), "missing name"),
        Rule(F.col("v") > 50, "v out of range"),
    ]
    valid, invalid = split_valid_invalid(df, rules)
    inv = {r["id"]: r["error_message"] for r in invalid.collect()}
    assert inv == {1: "missing name", 2: "v out of range"}
    assert [r["id"] for r in valid.collect()] == [3]
    # row snapshot captured as JSON
    row = invalid.filter("id = 2").collect()[0]
    assert '"v":99' in row["row_data"].replace(" ", "")


def test_distinct_on_keeps_first_by_order(spark):
    df = spark.createDataFrame(
        [("u1", date(2020, 1, 2), "b"), ("u1", date(2020, 1, 1), "a"),
         ("u2", date(2021, 5, 5), "c")],
        "k string, d date, payload string",
    )
    out = distinct_on(df, ["k"], [F.col("d").asc(), F.col("payload").asc()])
    got = {r["k"]: r["payload"] for r in out.collect()}
    assert got == {"u1": "a", "u2": "c"}


def test_scd2_end_date_closed(spark):
    df = spark.createDataFrame(
        [("u1", date(2018, 4, 8)), ("u1", date(2019, 1, 7)), ("u2", date(2020, 1, 1))],
        "k string, start_date date",
    )
    out = {
        (r["k"], str(r["start_date"])): r["end_date"]
        for r in scd2_end_date(df, ["k"], "start_date").collect()
    }
    assert str(out[("u1", "2018-04-08")]) == "2019-01-06"  # next start - 1 day
    assert out[("u1", "2019-01-07")] is None
    assert out[("u2", "2020-01-01")] is None


def test_interval_join_half_open(spark):
    w = spark.createDataFrame(
        [("u", date(2020, 1, 1), date(2020, 2, 1)), ("u", date(2020, 2, 1), None)],
        "k string, s date, e date",
    )
    p = spark.createDataFrame(
        [(1, "u", date(2020, 1, 15)), (2, "u", date(2020, 2, 1)), (3, "u", date(2019, 1, 1))],
        "id int, k string, t date",
    )
    out = interval_join(p, w, ["k"], "t", "s", "e", closed_end=False)
    got = {r["id"]: str(r["s"]) for r in out.collect()}
    assert got == {1: "2020-01-01", 2: "2020-02-01"}  # 3 unmatched (inner)


def test_priority_match_picks_best(spark):
    cands = spark.createDataFrame(
        [("u", 1, "low"), ("u", 2, "high")], "k string, p int, tag string"
    )
    probe = spark.createDataFrame([("u", 10)], "k string, id int")
    out = priority_match(
        probe, cands, on=["k"], probe_key=["id"],
        priority=F.col("p"), order_by=[F.col("tag").asc()],
    )
    assert out.collect()[0]["tag"] == "low"


def test_top_k_deterministic(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 5)], "id int, score int"
    )
    out = top_k(df, [F.desc("score"), F.asc("id")], 2).collect()
    assert [r["id"] for r in out] == [1, 2]


def test_salted_join_matches_plain_join(spark):
    """Salting changes physical distribution only — results identical to
    the plain equi-join, for inner and left."""
    from insect_observation_data_pipeline_spark.operators import salted_join
    from insect_observation_data_pipeline_spark.sources.parquet import read_table

    sf = "/root/testdata/sf0.001"
    e = read_table(spark, sf, "events").select(
        F.col("user_id").alias("custkey"), "event_id", "value"
    )
    c = read_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_name", "c_nationkey"
    )
    for how in ("inner", "left"):
        plain = e.join(c, ["custkey"], how)
        salted = salted_join(e, c, ["custkey"], buckets=8, how=how)
        assert salted.columns == plain.columns
        assert salted.count() == plain.count()
        assert salted.exceptAll(plain).count() == 0
        assert plain.exceptAll(salted).count() == 0


def test_salted_count_distinct_matches_exact(spark):
    from insect_observation_data_pipeline_spark.operators import salted_count_distinct
    from insect_observation_data_pipeline_spark.sources.parquet import read_table

    sf = "/root/testdata/sf0.001"
    l = read_table(spark, sf, "lineitem")
    exact = {
        r["l_returnflag"]: r["n"]
        for r in l.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    salted = {
        r["l_returnflag"]: r["n_distinct"]
        for r in salted_count_distinct(l, ["l_returnflag"], "l_partkey").collect()
    }
    assert salted == exact


def test_w2b_sketch_accuracy_and_plan(spark):
    """w2b's exemption contract (round 11): (a) every (customer, month)
    HLL estimate is within 20% of w2's exact distinct-supplier count
    at sf0.001 (3 sigma at m=256 is ~19.5%); (b) the plan is the
    register form — no exact count(distinct) anywhere, and the
    register agg partial-aggregates map-side (the property that caps
    shuffle rows at 256/group at any scale)."""
    from insect_observation_data_pipeline_spark.functions import approx
    from insect_observation_data_pipeline_spark.plans.inspect import (
        aggregate_calls,
    )
    from insect_observation_data_pipeline_spark.queries import QUERIES
    from insect_observation_data_pipeline_spark.sources.parquet import read_table

    sf = "/root/testdata/sf0.001"
    l = read_table(spark, sf, "lineitem")
    o = read_table(spark, sf, "orders")
    rows = (
        l.select("l_orderkey", F.col("l_suppkey").cast("string").alias("supp"))
        .join(
            o.select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .withColumn("month_year", F.date_format("o_orderdate", "yyyy-MM"))
    )
    exact = rows.groupBy("o_custkey", "month_year").agg(
        F.countDistinct("supp").alias("n_exact")
    )
    regs = approx.hll_registers(rows, "supp", ["o_custkey", "month_year"])
    per = approx.hll_state(regs, ["o_custkey", "month_year"])
    est = per.select(
        "o_custkey",
        "month_year",
        approx.hll_estimate(F.col("regs_used"), F.col("sum_scaled")).alias(
            "est"
        ),
    )
    joined = exact.join(est, ["o_custkey", "month_year"]).select(
        (F.abs(F.col("est") - F.col("n_exact")) / F.col("n_exact")).alias(
            "rel_err"
        )
    )
    stats = joined.agg(
        F.max("rel_err").alias("mx"), F.avg("rel_err").alias("avg")
    ).collect()[0]
    assert stats["mx"] <= 0.2, f"worst group error {stats['mx']:.3f} > 20%"
    assert stats["avg"] <= 0.08, f"mean error {stats['avg']:.3f} > 8%"

    calls = aggregate_calls(QUERIES["w2b_best_month_sketch"](spark, sf))
    assert not any(distinct for _, _, distinct in calls), calls
    # register agg combines map-side
    assert ("Partial", "max", False) in calls, calls


def test_merge_upsert_semantics(spark):
    """Updates win on key collision, unmatched current survives,
    new keys insert — ON CONFLICT DO UPDATE as recompute."""
    from insect_observation_data_pipeline_spark.operators import merge_upsert

    current = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, name string, v int"
    )
    updates = spark.createDataFrame(
        [(2, "B", 200), (4, "d", 40)], "k int, name string, v int"
    )
    got = {r["k"]: (r["name"], r["v"]) for r in merge_upsert(current, updates, ["k"]).collect()}
    assert got == {1: ("a", 10), 2: ("B", 200), 3: ("c", 30), 4: ("d", 40)}


def test_bucketed_join_has_no_shuffle(spark):
    """Same-key same-count bucketed tables sort-merge join without an
    Exchange on either side (the persisted pre-shuffle)."""
    from insect_observation_data_pipeline_spark.plans.inspect import (
        node_classes,
        physical_plan,
    )
    from insect_observation_data_pipeline_spark.sources.parquet import read_table, write_bucketed

    sf = "/root/testdata/sf0.001"
    write_bucketed(
        read_table(spark, sf, "orders"), "b_orders",
        bucket_by=("o_custkey",), num_buckets=8, sort_by=("o_custkey",),
    )
    write_bucketed(
        read_table(spark, sf, "customer"), "b_customer",
        bucket_by=("c_custkey",), num_buckets=8, sort_by=("c_custkey",),
    )
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            o = spark.table("b_orders")
            c = spark.table("b_customer")
            joined = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
                "o_orderkey", "c_name"
            )
            classes = node_classes(physical_plan(joined))
            assert classes["SortMergeJoinExec"]
            assert not any("Exchange" in c for c in classes), classes
            assert joined.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_asof_join_semantics(spark):
    """Equal-ts right row matches (>= semantics); inner drops left rows
    with no preceding right; left keeps them as nulls."""
    from insect_observation_data_pipeline_spark.operators import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 5), (3, 20, 50)], "lid int, k int, ts int"
    )
    right = spark.createDataFrame(
        [(10, 50, "a"), (10, 100, "b"), (10, 150, "c"), (20, 60, "d")],
        "k int, rts int, v string",
    )
    inner = {
        r["lid"]: r["v"]
        for r in asof_join(
            left, right, ["k"], left_ts="ts", right_ts="rts", payload=["v"]
        ).collect()
    }
    # lid=1: ts=100 -> right at 100 exactly ('b'); lid=2: ts=5 -> none;
    # lid=3: ts=50 -> none in k=20 (60 > 50)
    assert inner == {1: "b"}
    left_out = {
        r["lid"]: r["v"]
        for r in asof_join(
            left, right, ["k"], left_ts="ts", right_ts="rts", payload=["v"], how="left"
        ).collect()
    }
    assert left_out == {1: "b", 2: None, 3: None}


def test_salted_count_distinct_ignores_nulls(spark):
    """countDistinct parity on nullable values: NULL is never a distinct
    value, and all-NULL keys still surface with 0 (ADVICE r1)."""
    from insect_observation_data_pipeline_spark.operators import salted_count_distinct

    df = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("a", None), ("b", None), ("b", None)],
        "k string, v string",
    )
    exact = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
    }
    got = {
        r["k"]: r["n_distinct"]
        for r in salted_count_distinct(df, ["k"], "v").collect()
    }
    assert got == exact == {"a": 2, "b": 0}


def test_salted_join_right_full_decomposition(spark):
    """right/full outer use the mirrored rewrite (VERDICT r2 optional
    #8): salted inner core + broadcast-anti unmatched branches. Output
    must equal the plain join exactly — unmatched rows on EITHER side
    emitted once (never once per bucket), NULL payloads intact."""
    from insect_observation_data_pipeline_spark.operators import salted_join

    # hot key 1 on the large side; unmatched keys on both sides; a NULL
    # payload row to catch null-vs-missing confusion
    large = spark.createDataFrame(
        [(1, f"L{i}") for i in range(50)]
        + [(2, "two"), (3, None), (7, "no-match-left")],
        "k int, va string",
    )
    small = spark.createDataFrame(
        [(1, "hot"), (2, "b2"), (3, "b3"), (9, "no-match-right"), (8, None)],
        "k int, vb string",
    )
    for how in ("right", "full"):
        plain = large.join(small, ["k"], how).select("k", "va", "vb")
        salted = salted_join(large, small, ["k"], buckets=4, how=how)
        assert salted.columns == ["k", "va", "vb"]
        assert salted.exceptAll(plain).count() == 0
        assert plain.exceptAll(salted).count() == 0


def test_salted_join_hot_key_volume_and_plan(spark):
    """300k-row large side with half the rows on ONE key: the salted
    inner join must (a) put __salt in the shuffle key (plan-asserted)
    and (b) return exactly the plain join's row count."""
    from insect_observation_data_pipeline_spark.operators import salted_join
    from insect_observation_data_pipeline_spark.plans.inspect import join_key_names

    n = 300_000
    large = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, 1)
        .otherwise(F.pmod(F.col("id"), 1000))
        .cast("int")
        .alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(1000).select(
        F.col("id").cast("int").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
    )
    salted = salted_join(large, small, ["k"], buckets=16, how="inner")
    keys = join_key_names(salted)
    assert any({"k", "__salt"} <= set(side) for side in keys), keys
    assert salted.count() == large.join(small, ["k"], "inner").count()


def test_salted_join_rejects_unsupported(spark):
    """Non-equi-preserving join types still raise instead of silently
    producing wrong multiplicities."""
    import pytest

    from insect_observation_data_pipeline_spark.operators import salted_join

    a = spark.createDataFrame([(1, "x")], "k int, va string")
    b = spark.createDataFrame([(2, "y")], "k int, vb string")
    for how in ("outer", "left_anti", "left_semi", "cross"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(a, b, ["k"], buckets=4, how=how)


def test_asof_join_null_payload_matches(spark):
    """A most-recent right row with NULL payload IS the match: its NULL is
    returned (not an older non-null value), and under inner the row
    survives (ADVICE r1: DuckDB ASOF parity for nullable payloads)."""
    from insect_observation_data_pipeline_spark.operators import asof_join

    left = spark.createDataFrame([(1, 10, 100)], "lid int, k int, ts int")
    right = spark.createDataFrame(
        [(10, 50, "old"), (10, 90, None)], "k int, rts int, v string"
    )
    inner = asof_join(
        left, right, ["k"], left_ts="ts", right_ts="rts", payload=["v"]
    ).collect()
    assert len(inner) == 1 and inner[0]["v"] is None


def test_read_table_restores_nanos_conf(spark):
    """read_table must not leak spark.sql.legacy.parquet.nanosAsLong into
    the session (ADVICE r1)."""
    from insect_observation_data_pipeline_spark.sources.parquet import read_table

    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, None)
    df = read_table(spark, "/root/testdata/sf0.001", "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    assert spark.conf.get(key, None) == before
    assert df.count() > 0  # restore must not break the deferred action


def test_band_join_matches_naive(spark):
    """band_join (bucketized equi-join rewrite) must return EXACTLY the
    pairs of the naive |l-r| <= delta predicate — including values that
    straddle bucket boundaries in both directions — and never plan a
    cartesian/nested-loop join."""
    import pytest

    from insect_observation_data_pipeline_spark.operators.rangejoin import band_join
    from insect_observation_data_pipeline_spark.plans.inspect import plan_flags

    lhs = spark.createDataFrame(
        [(i, v) for i, v in enumerate([0, 4, 5, 9, 10, 23, 100])],
        "lid int, lv long",
    )
    rhs = spark.createDataFrame(
        [(i, v) for i, v in enumerate([1, 6, 14, 15, 30, 99, 111])],
        "rid int, rv long",
    )
    got = sorted(
        (r["lid"], r["rid"])
        for r in band_join(
            lhs, rhs, F.col("lv"), F.col("rv"), 5
        ).collect()
    )
    naive = sorted(
        (r["lid"], r["rid"])
        for r in lhs.crossJoin(rhs)
        .filter(F.abs(F.col("lv") - F.col("rv")) <= 5)
        .collect()
    )
    assert got == naive and len(got) > 0

    outer = band_join(
        lhs, rhs, F.col("lv"), F.col("rv"), 5, how="left_outer"
    )
    rows = outer.collect()
    # every left row survives; unmatched ones null-extend the right side
    assert {r["lid"] for r in rows} == {r["lid"] for r in lhs.collect()}
    unmatched = [r for r in rows if r["rid"] is None]
    naive_matched = {l for l, _ in naive}
    assert {r["lid"] for r in unmatched} == (
        {r["lid"] for r in lhs.collect()} - naive_matched
    )

    flags = plan_flags(outer)
    assert not flags["cartesian_product"]
    assert not flags["broadcast_nested_loop_join"]

    with pytest.raises(ValueError):
        band_join(lhs, rhs, F.col("lv"), F.col("rv"), 5, how="full")


def test_pagerank_mass_and_ordering(spark):
    """Weighted PageRank: total rank mass stays 1.0 through every round
    even when the top-ranked node is DANGLING (node 0 has no out-edges;
    without the redistribution term its whole rank would leak each
    round), and in-link mass orders the nodes as the graph says."""
    from insect_observation_data_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 0, 3), (2, 0, 1), (3, 0, 1), (3, 1, 2), (2, 4, 1)],
        "src int, dst int, weight int",
    )
    ranks = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    assert set(ranks) == {0, 1, 2, 3, 4}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    # hub everyone cites > its best feeder > the half-fed leaf >
    # the never-cited sources at the teleport+dangling floor
    assert ranks[2] == ranks[3] < ranks[4] < ranks[1] < ranks[0]


def test_triangle_counts_vs_bruteforce_random(spark):
    """Degree-oriented triangle enumeration agrees with an
    adjacency-set brute force on random graphs — including a hub node
    wired to everything (the skew case the orientation exists for),
    duplicate edges, reversed duplicates, and self-loops, which must
    all be canonicalized away."""
    import itertools
    import random

    from insect_observation_data_pipeline_spark.operators.graph import triangle_counts

    rng = random.Random(42)
    for trial in range(4):
        n = rng.randint(6, 14)
        p = rng.choice([0.2, 0.5, 0.8])
        edges = [
            (a, b)
            for a, b in itertools.combinations(range(n), 2)
            if rng.random() < p
        ]
        # hub wired to every node; noise: dupes, reversals, self-loops
        edges += [(n, v) for v in range(n)]
        edges += [(b, a) for a, b in edges[: len(edges) // 2]]
        edges += [(v, v) for v in range(0, n, 3)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: (r["degree"], r["n_triangles"], r["clustering"])
            for r in triangle_counts(df).collect()
        }

        adj: dict[int, set[int]] = {}
        for a, b in edges:
            if a == b:
                continue
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        tri = {v: 0 for v in adj}
        for a, b, c in itertools.combinations(sorted(adj), 3):
            if b in adj[a] and c in adj[a] and c in adj[b]:
                for v in (a, b, c):
                    tri[v] += 1
        assert set(got) == set(adj), f"trial {trial}: node set"
        for v in adj:
            deg = len(adj[v])
            assert got[v][0] == deg, f"trial {trial}: degree({v})"
            assert got[v][1] == tri[v], f"trial {trial}: tri({v})"
            want_c = (
                round(2.0 * tri[v] / (deg * (deg - 1)), 6) if deg >= 2 else 0.0
            )
            assert abs(got[v][2] - want_c) < 1e-9, f"trial {trial}: cc({v})"


def test_band_join_exact_at_nanosecond_magnitudes(spark):
    """Round-9 review fix, pinned: bucket ids must come from INTEGER
    floor division — double division mis-buckets |values| > 2^53
    (epoch nanos ~2^60) and silently drops qualifying pairs. Compare
    against a brute-force cross-filter reference on values straddling
    bucket boundaries at 2^60, including negatives."""
    import random

    from pyspark.sql import functions as F

    from insect_observation_data_pipeline_spark.operators.rangejoin import band_join

    rng = random.Random(41)
    delta = 1_000
    base = 1 << 60
    vals = []
    for i in range(60):
        k = rng.randrange(-3, 4)
        off = rng.choice([-delta, -1, 0, 1, delta - 1, delta])
        vals.append((i, (base if i % 2 else -base) + k * delta + off))
    left = spark.createDataFrame(vals, "lid long, lv long")
    right = spark.createDataFrame(
        [(100 + i, v) for i, v in vals], "rid long, rv long"
    )
    got = sorted(
        (r["lid"], r["rid"])
        for r in band_join(
            left, right, F.col("lv"), F.col("rv"), delta
        ).collect()
    )
    want = sorted(
        (li, 100 + ri)
        for li, lv in vals
        for ri, rv in vals
        if abs(lv - rv) <= delta
    )
    assert got == want


def test_asof_join_null_keys_and_timestamps(spark):
    """Round-12 review: JOIN semantics on NULLs. A NULL equi-key never
    matches (the window rewrite used to group NULL keys into one
    partition and match them); a NULL right timestamp is never the
    as-of match (it used to sort first and match every left row); a
    NULL left key survives how='left' null-extended and is dropped by
    how='inner' — exactly DuckDB ASOF JOIN behavior."""
    from insect_observation_data_pipeline_spark.operators import asof_join

    left = spark.createDataFrame(
        [(None, 5, "ln"), (1, 5, "l1")], "k int, ts int, tag string"
    )
    right = spark.createDataFrame(
        [(None, 3, "rn"), (1, None, "rt"), (1, 4, "r1")],
        "k int, ts int, payload string",
    )
    inner = {
        r["tag"]: r["payload"]
        for r in asof_join(
            left, right.withColumnRenamed("ts", "rts"), ["k"],
            left_ts="ts", right_ts="rts", payload=["payload"],
        ).collect()
    }
    # l1 matches r1 (k=1, 4 <= 5) — never the NULL-ts right row;
    # the NULL-key left row matches nothing
    assert inner == {"l1": "r1"}
    outer = {
        r["tag"]: r["payload"]
        for r in asof_join(
            left, right.withColumnRenamed("ts", "rts"), ["k"],
            left_ts="ts", right_ts="rts", payload=["payload"], how="left",
        ).collect()
    }
    assert outer == {"l1": "r1", "ln": None}


def test_band_join_rejects_sub_one_delta(spark):
    """Round-12 review: delta=0 (or a fractional delta truncated to 0)
    made every bucket `x DIV 0` = NULL, silently returning zero
    matches; the guard raises instead. Round-13 ADVICE close-out: ANY
    fractional delta raises too (int(5.7) -> 5 silently narrowed the
    band), so every non-integer is rejected consistently."""
    import pytest

    from insect_observation_data_pipeline_spark.operators import band_join

    df = spark.createDataFrame([(1,)], "v int")
    r = spark.createDataFrame([(1,)], "w int")
    for bad in (0, 0.1, -5, 5.7, 2.5):
        with pytest.raises(ValueError, match="integer delta"):
            band_join(df, r, F.col("v"), F.col("w"), bad)
    # integer-valued floats stay accepted (exactly representable)
    assert band_join(df, r, F.col("v"), F.col("w"), 2.0).count() == 1


def test_salted_join_rejects_bad_buckets(spark):
    """Round-13 review: buckets=0 made the salt pmod(hash, 0) —
    DIVIDE_BY_ZERO under ANSI, a silently EMPTY join otherwise; the
    guard raises like band_join's delta guard."""
    import pytest

    from insect_observation_data_pipeline_spark.operators.skew import salted_join

    df = spark.createDataFrame([(1, "a")], "k int, v string")
    r = spark.createDataFrame([(1, "b")], "k int, w string")
    for bad in (0, -3, 2.5):
        with pytest.raises(ValueError, match="buckets"):
            salted_join(df, r, ["k"], buckets=bad)


def test_priority_match_null_priority_sorts_last(spark):
    """Round-13 review: a candidate whose priority CASE ladder yields
    NULL (no ELSE arm) must never beat a real priority — __prio orders
    NULLS LAST."""
    from insect_observation_data_pipeline_spark.operators import priority_match

    probe = spark.createDataFrame([(1, "x")], "k int, pv string")
    cand = spark.createDataFrame(
        [(1, "good", 5), (1, "nullprio", None)],
        "k int, tag string, flag int",
    )
    # ladder without ELSE: flag=5 -> 1; flag NULL -> NULL priority
    out = priority_match(
        probe, cand, ["k"], ["pv"],
        F.when(F.col("flag") == 5, 1),
        [F.col("tag").asc()],
    ).collect()
    assert len(out) == 1 and out[0]["tag"] == "good"


def test_interval_join_shared_time_column_names(spark):
    """Round-13 review: probe and windows sharing a time column name
    (SCD2 output probed against another SCD2 table) must resolve via
    frame-qualified references, not raise AMBIGUOUS_REFERENCE."""
    import datetime

    from insect_observation_data_pipeline_spark.operators import interval_join

    d = datetime.date
    probe = spark.createDataFrame(
        [(1, d(2020, 6, 1), d(2020, 1, 1))],
        "k int, ts date, start_date date",  # probe has its own start_date
    )
    windows = spark.createDataFrame(
        [(1, d(2020, 1, 1), None)],
        "k int, win_s date, win_e date",
    ).select(
        "k", F.col("win_s").alias("start_date"), F.col("win_e").alias("end_date")
    )
    out = interval_join(
        probe.select("k", "ts"), windows, ["k"], "ts", "start_date", "end_date"
    ).collect()
    assert len(out) == 1


def test_scd2_end_date_rejects_closed_timestamp(spark):
    """Round-13 review: closed 'minus one day' end-dating on a TIMESTAMP
    start would silently truncate to DATE; the guard raises and points
    at closed_end=False."""
    import pytest

    df = spark.createDataFrame(
        [(1, "2020-01-01 10:00:00")], "k int, ts string"
    ).select("k", F.col("ts").cast("timestamp").alias("start_ts"))
    with pytest.raises(ValueError, match="closed_end=False"):
        scd2_end_date(df, ["k"], "start_ts")
    # half-open stays allowed on timestamps
    assert scd2_end_date(df, ["k"], "start_ts", closed_end=False).count() == 1


def test_pagerank_drops_nonpositive_weight_edges(spark):
    """Round-13 review: zero/negative/NULL-weight edges are non-edges —
    no ANSI divide-by-zero from a zero out-weight sum, no rank-mass
    leak, and ranks still sum to 1."""
    from insect_observation_data_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [
            ("a", "b", 1.0),
            ("b", "a", 2.0),
            ("c", "a", 0.0),   # c's only out-edge: weight 0 -> dropped
            ("a", "c", None),  # NULL weight -> dropped
            ("b", "c", -1.0),  # negative -> dropped
        ],
        "src string, dst string, weight double",
    )
    ranks = pagerank(edges, iterations=4)
    rows = {r["node"]: r["rank"] for r in ranks.collect()}
    # c left the graph entirely (all its edges dropped)
    assert set(rows) == {"a", "b"}
    assert abs(sum(rows.values()) - 1.0) < 1e-9
