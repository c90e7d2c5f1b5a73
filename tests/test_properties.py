"""Property-based tests (hypothesis) for pure engine logic."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from insect_observation_data_pipeline_spark.streaming import advance_session_state

GAP = 600 * 1_000_000

ts_lists = st.lists(
    st.integers(min_value=0, max_value=10**15), min_size=0, max_size=60
).map(sorted)


@given(ts_lists, st.integers(min_value=0, max_value=60))
@settings(max_examples=200, deadline=None)
def test_session_fold_is_split_invariant(ts, cut):
    """Folding a timestamp sequence in one batch == any two-batch split —
    the property that makes micro-batch boundaries semantically invisible."""
    cut = min(cut, len(ts))
    whole = advance_session_state(None, 0, 0, ts, GAP)
    head = advance_session_state(None, 0, 0, ts[:cut], GAP)
    split = advance_session_state(*head, ts[cut:], GAP)
    assert split == whole


@given(
    st.lists(
        st.floats(
            min_value=-2.0, max_value=2.0, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=50,
    ),
    st.integers(min_value=0, max_value=6),
)
@settings(max_examples=300, deadline=None)
def test_numpy_stable_round_matches_scalar_formula(xs, digits):
    """The gram kernel replicates stable_round in vectorized numpy; both
    are the same IEEE-754 ops, so they must agree bit-for-bit on every
    input — this is what makes the numpy pair kernel oracle-safe."""
    import numpy as np

    s = float(10**digits)
    a = np.asarray(xs, dtype=np.float64)
    vec = np.floor(np.abs(a) * s + 0.5) / s * np.where(a < 0, -1.0, 1.0) + 0.0
    import math

    for x, got in zip(xs, vec):
        want = math.floor(abs(x) * s + 0.5) / s * (-1.0 if x < 0 else 1.0) + 0.0
        assert got == want


@given(ts_lists)
@settings(max_examples=200, deadline=None)
def test_session_counts_bounds(ts):
    """n_sessions in [1, n_events] when events exist; 0 sessions only
    when 0 events; last_ts is the max timestamp."""
    last, n_sessions, n_events = advance_session_state(None, 0, 0, ts, GAP)
    assert n_events == len(ts)
    if ts:
        assert 1 <= n_sessions <= n_events
        assert last == ts[-1]
    else:
        assert (last, n_sessions) == (None, 0)


ev_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=50),
        st.sampled_from(["view", "click", "purchase", "error"]),
    ),
    max_size=30,
)


def _brute_funnel(evs):
    """Reference cascade: first view, first click strictly after it,
    first purchase strictly after that — computed by global minimums,
    the way the e6 oracle SQL does."""
    views = [t for t, y in evs if y == "view"]
    t1 = min(views) if views else None
    t2 = (
        min((t for t, y in evs if y == "click" and t > t1), default=None)
        if t1 is not None
        else None
    )
    t3 = (
        min((t for t, y in evs if y == "purchase" and t > t2), default=None)
        if t2 is not None
        else None
    )
    return t1, t2, t3


@given(ev_lists, st.integers(min_value=0, max_value=30))
@settings(max_examples=300, deadline=None)
def test_funnel_fold_matches_cascade_and_split_invariant(evs, cut):
    """The incremental funnel fold over ts-sorted events equals the
    global-minimum cascade, and splitting the sorted stream at ANY
    point (micro-batch boundary) gives the same final state."""
    from insect_observation_data_pipeline_spark.streaming import advance_funnel_state

    evs = sorted(evs, key=lambda p: p[0])
    whole = advance_funnel_state(None, None, None, evs)
    assert whole == _brute_funnel(evs)
    cut = min(cut, len(evs))
    split = advance_funnel_state(
        *advance_funnel_state(None, None, None, evs[:cut]), evs[cut:]
    )
    assert split == whole


@given(
    st.integers(min_value=1, max_value=4),   # channels
    st.integers(min_value=1, max_value=12),  # height
    st.integers(min_value=1, max_value=12),  # width
    st.booleans(),                            # interlace
    st.randoms(use_true_random=False),
)
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_property(ch, h, w, interlace, rnd):
    """encode -> decode is the identity for every 8-bit shape and both
    interlace modes — sizes with empty Adam7 passes included."""
    import numpy as np

    from insect_observation_data_pipeline_spark.llm import multimodal

    rng = np.random.default_rng(rnd.randrange(2**32))
    px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    got = multimodal.png_decode_pixels(
        multimodal.png_encode_pixels(px, interlace=interlace)
    )
    assert (got == px).all()


@given(
    st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=300
    ),
    st.sampled_from(["alaw", "ulaw"]),
)
@settings(max_examples=100, deadline=None)
def test_g711_nearest_level_property(xs, law):
    """decode(encode(x)) is always the nearest representable companded
    level to x — no input is ever mapped across a closer level."""
    import numpy as np

    from insect_observation_data_pipeline_spark.llm import multimodal

    table = multimodal.g711_decode_table(law).astype(np.int64)
    levels = np.unique(table)
    x = np.asarray(xs, dtype=np.int64)
    got = table[multimodal._g711_encode_bytes(x, law)]
    best = levels[
        np.argmin(np.abs(levels[None, :] - x[:, None]), axis=1)
    ]
    assert (np.abs(got - x) == np.abs(best - x)).all()


# ---------------------------------------------------------------------------
# id-grain SCD2 (round 13): the full Spark composition (validate ->
# inner-join institutions -> keeps-both dedup -> lead() end-dating with
# (name, city) tiebreaks) must equal an independent pure-Python model
# on randomized inputs covering every edge at once: duplicate rows,
# unknown institutions, a duplicate NAME in two cities, two
# institutions on one date, non-seeded subscription types, and two
# types on one date.
# ---------------------------------------------------------------------------

_PROP_INSTS = [
    ("NHC", "CityA", "CtyA"),
    ("NHC", "CityB", "CtyB"),   # duplicate name, second city
    ("Solo", "CityC", "CtyC"),
    ("Annex", None, None),      # institution with no city
]


@pytest.fixture(scope="session")
def prop_inst_silver(spark):
    """The institutions-batch silver built from _PROP_INSTS, materialized
    once per session: it is constant across every hypothesis example,
    and replaying the whole institutions batch inside each example's
    collect made this one test 132 s of the suite. Scoped to the session
    that owns the localCheckpointed RDDs."""
    from insect_observation_data_pipeline_spark.etl import etl1

    inst_stg = spark.createDataFrame(
        [(n, c, cty, "United Kingdom") for n, c, cty in _PROP_INSTS],
        "institution string, city string, county string, country string",
    )
    r1 = etl1.load_institutions(inst_stg)
    return {k: df.localCheckpoint() for k, df in r1.silver.items()}


_aff_rows = st.lists(
    st.tuples(
        st.sampled_from(["u1", "u2", "u3"]),
        st.sampled_from(["NHC", "Solo", "Annex", "Ghost"]),  # Ghost unknown
        st.integers(min_value=0, max_value=5),               # aff start day
        st.sampled_from(["Free", "Pro", "GoldTier"]),        # GoldTier unseeded
        st.integers(min_value=0, max_value=5),               # sub start day
    ),
    min_size=1,
    max_size=10,
)


@given(_aff_rows)
@settings(max_examples=12, deadline=None)
def test_user_histories_match_python_model(spark, prop_inst_silver, rows):
    import datetime

    from insect_observation_data_pipeline_spark.etl import etl1
    from insect_observation_data_pipeline_spark.sources.seed import SUBSCRIPTION_TYPES

    base = datetime.date(2020, 1, 1)
    day = lambda off: (base + datetime.timedelta(days=off)).isoformat()

    users_stg = spark.createDataFrame(
        [
            (f"X. {u.upper()}", u, f"{u}@x.org", inst, day(aoff), "", "",
             sub, day(soff), day(0))
            for (u, inst, aoff, sub, soff) in rows
        ],
        "full_name string, username string, email string, institution string,"
        " affiliation_start string, city string, county string,"
        " subscription_type string, subscription_start string,"
        " join_date string",
    )
    r2 = etl1.load_users(users_stg, prop_inst_silver)
    # ONE action per example (round-16): per-example cost here is
    # Catalyst planning of the deep SCD2 DAG, paid per ACTION — so the
    # two history tables are unioned into a single tagged projection
    # and collected once instead of two separate collects each
    # re-planning the whole load_users lineage
    import pyspark.sql.functions as F

    users_names = r2.silver["users"].select("user_id", "username")
    ui_rows = (
        r2.silver["user_institution"]
        .join(users_names, "user_id")
        .select(
            F.lit("ui").alias("kind"), "username",
            F.col("institution_name").alias("name_a"),
            F.col("city_name").alias("name_b"),
            "start_date", "end_date",
        )
    )
    us_rows = (
        r2.silver["user_subscription"]
        .join(users_names, "user_id")
        .select(
            F.lit("us").alias("kind"), "username",
            F.col("subscription_type_name").alias("name_a"),
            F.lit(None).cast("string").alias("name_b"),
            "start_date", "end_date",
        )
    )
    collected = ui_rows.unionByName(us_rows).collect()

    # ---- python model: user_institution ----
    by_name: dict = {}
    for n, c, _ in _PROP_INSTS:
        by_name.setdefault(n, []).append(c)
    dd = {
        (u, inst, city, aoff)
        for (u, inst, aoff, _s, _so) in rows
        for city in by_name.get(inst, [])   # inner join; Ghost drops
    }
    want_ui = set()
    by_user: dict = {}
    for u, inst, city, aoff in dd:
        by_user.setdefault(u, []).append((inst, city, aoff))
    for u, ivs in by_user.items():
        ivs.sort(key=lambda t: (t[2], t[0], (t[1] is None, t[1] or "")))
        for i, (inst, city, aoff) in enumerate(ivs):
            nxt = ivs[i + 1][2] if i + 1 < len(ivs) else None
            end = (
                base + datetime.timedelta(days=nxt - 1)
                if nxt is not None
                else None
            )
            want_ui.add(
                (u, inst, city, base + datetime.timedelta(days=aoff), end)
            )
    got_ui = {
        (r["username"], r["name_a"], r["name_b"],
         r["start_date"], r["end_date"])
        for r in collected
        if r["kind"] == "ui"
    }
    assert got_ui == want_ui

    # ---- python model: user_subscription ----
    seeded = {t[0] for t in SUBSCRIPTION_TYPES}
    sdd = {
        (u, sub, soff)
        for (u, _i, _a, sub, soff) in rows
        if sub in seeded
    }
    want_us = set()
    s_by_user: dict = {}
    for u, sub, soff in sdd:
        s_by_user.setdefault(u, []).append((sub, soff))
    for u, ivs in s_by_user.items():
        ivs.sort(key=lambda t: (t[1], t[0]))
        for i, (sub, soff) in enumerate(ivs):
            nxt = ivs[i + 1][1] if i + 1 < len(ivs) else None
            end = (
                base + datetime.timedelta(days=nxt - 1)
                if nxt is not None
                else None
            )
            want_us.add(
                (u, sub, base + datetime.timedelta(days=soff), end)
            )
    got_us = {
        (r["username"], r["name_a"], r["start_date"], r["end_date"])
        for r in collected
        if r["kind"] == "us"
    }
    assert got_us == want_us
