"""End-to-end ETL1+ETL2 on reference-shaped fixtures (SURVEY §5 rebuild
test plan): invariants from the reference's constraints + quirks."""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from insect_observation_data_pipeline_spark.etl import etl1, etl2
from insect_observation_data_pipeline_spark.queries import reference as refq
from insect_observation_data_pipeline_spark.sources.csv import read_csv_staging


def _build_pipeline(spark, d, materialize=True):
    inst_stg = read_csv_staging(
        spark, str(d / "institutions.csv"), etl1.INSTITUTIONS_COLS,
        defaults={"country": "United Kingdom"},
    )
    users_stg = read_csv_staging(
        spark, str(d / "users.csv"), etl1.USERS_COLS,
        # mirror the runner (round-15 review): the parity suite must
        # exercise the production trim('country') branch, not only
        # load_users' missing-column lit() fallback (unit tests cover
        # that branch with bare createDataFrame staging)
        defaults={"country": "United Kingdom"},
    )
    obs_stg = read_csv_staging(
        spark, str(d / "observations.csv"), etl1.OBSERVATIONS_COLS
    ).withColumn("raw_data_id", F.monotonically_increasing_id())

    r1 = etl1.load_institutions(inst_stg)
    r2 = etl1.load_users(users_stg, r1.silver)
    r3 = etl1.load_observations(
        obs_stg, r2.silver["users"], r2.silver["user_institution"]
    )
    silver = {**r1.silver, **r2.silver, **r3.silver}
    quarantine = {**r1.quarantine, **r2.quarantine, **r3.quarantine}
    if materialize:
        # Materialize each layer ONCE (round-16, VERDICT r15 #1): the
        # fixture frames are consumed by ~25 tests doing several actions
        # each, and every action otherwise replays the ENTIRE lazy
        # ETL1+ETL2 DAG — on these deep SCD2 plans the per-action
        # Catalyst + recompute cost dominated the suite (test_etl_pipeline
        # alone was ~25 of the 46 suite minutes; a bare grain assert took
        # 84 s on 15 fixture rows). localCheckpoint truncates the lineage
        # to computed-once local RDDs; gold is built ON the checkpointed
        # silver so its own materialization never re-runs ETL1. Tests
        # that assert PLAN shape build their own lazy copy with
        # materialize=False — a checkpointed frame has no plan to
        # inspect.
        silver = {k: df.localCheckpoint() for k, df in silver.items()}
        quarantine = {k: df.localCheckpoint() for k, df in quarantine.items()}
    gold = etl2.build_gold(silver)
    if materialize:
        gold = {k: df.localCheckpoint() for k, df in gold.items()}
    return {"silver": silver, "quarantine": quarantine, "gold": gold,
            "obs_stg": obs_stg}


@pytest.fixture(scope="module")
def pipeline(spark, fixtures_dir):
    return _build_pipeline(spark, fixtures_dir)


@pytest.fixture(scope="module")
def edge_pipeline(spark, edge_fixtures_dir):
    return _build_pipeline(spark, edge_fixtures_dir)


def test_quarantine_counts(pipeline):
    q = pipeline["quarantine"]
    assert q["invalid_institutions"].count() == 1
    # bbroken (missing email) + cbadd (bad date)
    msgs = {r["username"]: r["error_message"] for r in q["invalid_users"].collect()}
    assert msgs == {
        "bbroken": "Missing required field: email.",
        "cbadd": "Unparseable date: affiliation_start.",
    }
    obs_msgs = sorted(
        r["error_message"] for r in q["invalid_observations"].collect()
    )
    assert obs_msgs == sorted([
        "Missing authors.", "Missing pollinator species.",
        "Invalid interactions value.", "Invalid latitude.",
        "Invalid pollination quality.", "Invalid pollen flag.",
    ])


def test_geography_and_lookups(pipeline):
    s = pipeline["silver"]
    assert s["countries"].count() == 1
    assert {r["institution_name"] for r in s["institutions"].collect()} == {
        "Institute of Advanced Waggling", "The Bumblebee Behaviour Bureau",
        "Apiary Analytics", "Unaffiliated",
    }
    # species normalized to 'Genus species'
    assert {r["species_name"] for r in s["pollinator_species"].collect()} == {
        "Apis mellifera", "Bombus terrestris",
    }
    # locations deduped on (lat, lon), all valid rows with coords
    locs = s["locations"].collect()
    assert len(locs) == len({(r["latitude"], r["longitude"]) for r in locs})
    assert len(locs) == 2


def test_scd2_invariants(pipeline):
    ui = pipeline["silver"]["user_institution"].orderBy("user_id", "start_date")
    rows = ui.collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for intervals in by_user.values():
        for a, b in zip(intervals, intervals[1:]):
            assert a["end_date"] is not None and a["end_date"] < b["start_date"]
        assert intervals[-1]["end_date"] is None  # current interval open
    # chapdude63 has 2 affiliation intervals
    chap = [r for r in rows if r["institution_name"] == "The Bumblebee Behaviour Bureau"]
    assert len(chap) == 1 and chap[0]["end_date"] is None


def test_january_placeholder_and_null_year(pipeline):
    obs = pipeline["silver"]["observations"]
    jan = obs.filter(
        (F.month("observation_date") == 1) & (F.dayofmonth("observation_date") == 1)
    )
    assert jan.count() == 1  # the missing-month row
    assert obs.filter(F.col("observation_date").isNull()).count() == 1  # missing year


def test_feb_clamp(pipeline):
    obs = pipeline["silver"]["observations"]
    feb = obs.filter(F.month("observation_date") == 2).collect()
    assert len(feb) == 1 and str(feb[0]["observation_date"]) == "2019-02-28"


def test_duplicates_survive_and_rerun_doubles(spark, pipeline):
    """Observations are append-only; full dup rows are legal and re-ingest
    doubles the data by design (README.md:19)."""
    obs = pipeline["silver"]["observations"]
    n = obs.count()
    # 14 staged - 6 quarantined - 1 unmatched author (the reference's
    # INNER author->user join never inserts it; round-14 parity)
    assert n == 7
    doubled_stg = pipeline["obs_stg"].unionByName(pipeline["obs_stg"]).withColumn(
        "raw_data_id", F.monotonically_increasing_id()
    )
    r = __import__("insect_observation_data_pipeline_spark.etl.etl1", fromlist=["etl1"]).load_observations(
        doubled_stg,
        pipeline["silver"]["users"],
        pipeline["silver"]["user_institution"],
    )
    assert r.silver["observations"].count() == 2 * n
    # dims must NOT double
    assert r.silver["pollinator_species"].count() == pipeline["silver"]["pollinator_species"].count()


def test_earliest_affiliation_fallback(pipeline):
    """An observation predating the user's first affiliation attaches to
    the earliest interval (README.md:26-27)."""
    s = pipeline["silver"]
    old = s["observations"].filter(F.year("observation_date") == 2005).collect()
    assert len(old) == 1
    ui = {r["user_institution_id"]: r for r in s["user_institution"].collect()}
    attached = ui[old[0]["user_institution_id"]]
    users = {r["user_id"]: r["username"] for r in s["users"].collect()}
    assert users[attached["user_id"]] == "chapdude63"
    assert str(attached["start_date"]) == "2018-04-08"  # earliest interval


def test_fact_grain_unique(pipeline):
    g = pipeline["gold"]
    for name, keys in [
        ("fact_pollination_activity",
         ["pollinator_sk", "caste_sk", "plant_sk", "habitat_sk", "location_sk", "date_sk"]),
        ("fact_user_location_monthly",
         ["user_sk", "location_sk", "date_sk", "institution_sk", "subscription_type_sk"]),
        ("fact_user_monthly_summary",
         ["user_sk", "date_sk", "institution_sk", "subscription_type_sk"]),
    ]:
        f = g[name]
        assert f.count() == f.select(*keys).distinct().count(), name


def test_fact_totals_consistent(pipeline):
    s, g = pipeline["silver"], pipeline["gold"]
    base = s["observations"].filter(
        F.col("observation_date").isNotNull() & F.col("location_id").isNotNull()
    )
    total = base.count()
    fact_total = g["fact_pollination_activity"].agg(
        F.sum("observation_count").alias("n")
    ).collect()[0]["n"]
    assert fact_total == total


def test_reference_queries_run(pipeline):
    s, g = pipeline["silver"], pipeline["gold"]
    assert refq.top_plant_pollinator_pairs(s).count() > 0
    assert refq.most_observed_habitats(s).count() > 0
    assert refq.summary_by_pollination_quality(s).count() > 0
    assert refq.top_users_by_observations(s).count() > 0
    months = refq.top_confirmed_months(g).collect()
    assert all(r["month_name"] != "January" for r in months)
    assert refq.top_location_months(g).count() > 0
    assert refq.top_monthly_locations_per_user(g).count() > 0


def test_reference_sql_twins_match_dataframe(spark, pipeline):
    """EP3 dual surface: spark.sql twins produce the same rows as the
    DataFrame functions (same Catalyst plans underneath)."""
    from insect_observation_data_pipeline_spark.queries import reference as refq

    s, g = pipeline["silver"], pipeline["gold"]
    refq.register_layers(spark, s, g)
    pairs = [
        (refq.top_plant_pollinator_pairs(s), "top_plant_pollinator_pairs"),
        (refq.most_observed_habitats(s), "most_observed_habitats"),
        (refq.top_users_by_observations(s), "top_users_by_observations"),
        (refq.summary_by_pollination_quality(s), "summary_by_pollination_quality"),
        (refq.top_confirmed_months(g), "top_confirmed_months"),
        (refq.top_location_months(g), "top_location_months"),
        (refq.top_monthly_locations_per_user(g), "top_monthly_locations_per_user"),
    ]
    for df, key in pairs:
        got = [tuple(r) for r in spark.sql(refq.REFERENCE_SQL[key]).collect()]
        expected = [tuple(r) for r in df.collect()]
        assert got == expected, key


def _volume_staged(spark, n: int):
    from insect_observation_data_pipeline_spark.etl import etl1

    base = spark.range(n).withColumnRenamed("id", "raw_data_id")
    cols = {
        "authors": F.concat(F.lit("R. E. Chapman; observer "), F.col("raw_data_id") % 7),
        "pollinator_species": F.concat(F.lit("bombus sp"), F.col("raw_data_id") % 50),
        "plant_species": F.concat(F.lit("trifolium sp"), F.col("raw_data_id") % 40),
        "habitat": F.when(F.col("raw_data_id") % 2 == 0, "urban").otherwise("suburban"),
        "caste": F.when(F.col("raw_data_id") % 3 == 0, "worker").otherwise("queen"),
        "interactions": (F.col("raw_data_id") % 9 + 1).cast("string"),
        "date": F.lit(None).cast("string"),
        "month": ((F.col("raw_data_id") % 12) + 1).cast("string"),
        "year": (F.lit(2015) + F.col("raw_data_id") % 8).cast("string"),
        "latitude": (F.lit(51.0) + (F.col("raw_data_id") % 500) / 1000.0).cast("string"),
        "longitude": (F.lit(-1.0) - (F.col("raw_data_id") % 500) / 1000.0).cast("string"),
        "pollination": ((F.col("raw_data_id") % 4) + 1).cast("string"),
        "pollen": F.when(F.col("raw_data_id") % 2 == 0, "Y").otherwise("N"),
        "nectar": F.when(F.col("raw_data_id") % 5 == 0, "Y").otherwise("N"),
    }
    staged = base
    for c in etl1.OBSERVATIONS_COLS:
        staged = staged.withColumn(c, cols.get(c, F.lit("NA")))
    return staged


def test_observation_etl_at_volume(spark, pipeline):
    """50k synthetic staged observation rows through the full ETL1
    observation path: guards against accidentally quadratic behavior
    (self-joins, per-row Python) and re-checks invariants at volume."""
    from insect_observation_data_pipeline_spark.etl import etl1

    n = 50_000
    staged = _volume_staged(spark, n)
    users = pipeline["silver"]["users"]
    ui = pipeline["silver"]["user_institution"]
    r = etl1.load_observations(staged, users, ui)
    obs = r.silver["observations"]
    assert obs.count() == n  # all rows valid by construction
    assert r.silver["pollinator_species"].count() == 50
    assert r.silver["plant_species"].count() == 40
    assert r.silver["locations"].count() == 500
    # January-placeholder rule: month backfilled dates always day 1
    assert (
        obs.filter(F.dayofmonth("observation_date") != 1).count() == 0
    )


def test_etl_plan_shape_at_500k(spark, pipeline):
    """500k rows through ETL1 observations + full ETL2 gold (VERDICT r2
    #6): beyond invariants, assert the PLAN properties that decide the
    100 TB posture — no unpartitioned window anywhere, the tiny users
    side of the author-attribution join broadcast, no cartesian product,
    no Python UDF in any hot path — and every silver lookup + gold dim
    key unique at volume."""
    from insect_observation_data_pipeline_spark.etl import etl1, etl2
    from insect_observation_data_pipeline_spark.functions.keys import assert_unique
    from insect_observation_data_pipeline_spark.plans.inspect import (
        plan_flags,
        unpartitioned_windows,
    )

    n = 500_000
    staged = _volume_staged(spark, n)
    r = etl1.load_observations(
        staged, pipeline["silver"]["users"], pipeline["silver"]["user_institution"]
    )
    silver = {**pipeline["silver"], **r.silver}
    gold = etl2.build_gold(silver)

    obs = r.silver["observations"]
    flags = plan_flags(obs)
    assert flags["broadcast_hash_join"] or flags["broadcast_nested_loop_join"]
    assert not flags["cartesian_product"]
    assert not flags["python_udf"]
    for name, df in {**r.silver, **gold}.items():
        assert unpartitioned_windows(df) == 0, name
        f = plan_flags(df)
        assert not f["cartesian_product"], name
        assert not f["python_udf"], name

    # plan checks done — materialize ONCE before the data asserts
    # (round-16): every assert below is an action, and each otherwise
    # replays the full 500k-row ETL1+ETL2 DAG from the staged frame
    # (~16 replays; this one test was 317 of the suite's 2749 s).
    # Checkpoint the staged INPUT first (so every derived frame computes
    # from a materialized 500k scan, not the generator expression), then
    # each silver frame once, then gold on the checkpointed silver —
    # after this block every remaining assert is an action over
    # already-computed local partitions.
    staged_m = staged.localCheckpoint()
    r = etl1.load_observations(
        staged_m, pipeline["silver"]["users"],
        pipeline["silver"]["user_institution"],
    )
    r_silver = {k: df.localCheckpoint() for k, df in r.silver.items()}
    obs = r_silver["observations"]
    gold = etl2.build_gold({**pipeline["silver"], **r_silver})
    gold = {k: df.localCheckpoint() for k, df in gold.items()}

    assert obs.count() == n
    for table, col in [
        ("pollinator_species", "pollinator_id"),
        ("plant_species", "plant_id"),
        ("locations", "location_id"),
        ("castes", "caste_id"),
        ("habitats", "habitat_id"),
    ]:
        assert_unique(r_silver[table], col)
    for dim, col in [
        ("dim_pollinator", "pollinator_sk"), ("dim_plant", "plant_sk"),
        ("dim_caste", "caste_sk"), ("dim_habitat", "habitat_sk"),
        ("dim_location", "location_sk"), ("dim_date", "date_sk"),
        ("dim_user", "user_sk"),
        ("dim_subscription_type", "subscription_type_sk"),
        ("dim_institution", "institution_sk"),
    ]:
        assert_unique(gold[dim], col)
    # fact totals stay consistent at volume
    base = obs.filter(
        F.col("observation_date").isNotNull() & F.col("location_id").isNotNull()
    )
    fact_total = gold["fact_pollination_activity"].agg(
        F.sum("observation_count").alias("t")
    ).collect()[0]["t"]
    assert fact_total == base.count()


def test_surrogate_keys_unique_and_no_global_window(
    spark, pipeline, fixtures_dir
):
    """Hash surrogate keys (VERDICT r1 #4): unique per table, and no
    unpartitioned window anywhere in the silver/gold plans — the
    row_number() SERIAL replacement funneled every row through one
    partition; xxhash64 keys must not reintroduce a global sort."""
    from insect_observation_data_pipeline_spark.functions.keys import assert_unique
    from insect_observation_data_pipeline_spark.plans.inspect import unpartitioned_windows

    sk_cols = {
        "countries": "country_id", "counties": "county_id",
        "cities": "city_id", "institutions": "institution_id",
        "users": "user_id", "user_institution": "user_institution_id",
        "user_subscription": "user_subscription_id",
        "pollinator_species": "pollinator_id", "plant_species": "plant_id",
        "castes": "caste_id", "habitats": "habitat_id",
        "locations": "location_id",
    }
    for table, col in sk_cols.items():
        assert_unique(pipeline["silver"][table], col)
    for dim, col in [
        ("dim_pollinator", "pollinator_sk"), ("dim_plant", "plant_sk"),
        ("dim_caste", "caste_sk"), ("dim_habitat", "habitat_sk"),
        ("dim_location", "location_sk"), ("dim_date", "date_sk"),
        ("dim_user", "user_sk"),
        ("dim_subscription_type", "subscription_type_sk"),
        ("dim_institution", "institution_sk"),
    ]:
        assert_unique(pipeline["gold"][dim], col)
    # plan inspection needs the LAZY lineage (the materialized fixture's
    # frames are checkpointed scans with no plan left to inspect) —
    # building the lazy pipeline is construction-only, no actions
    lazy = _build_pipeline(spark, fixtures_dir, materialize=False)
    for layer in ("silver", "gold"):
        for name, df in lazy[layer].items():
            assert unpartitioned_windows(df) == 0, (layer, name)


@contextmanager
def _job_group(sc, group: str):
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


#: job-count bounds of one runner re-run on the ``fixtures_dir`` CSVs:
#: 83 and 62 jobs in each of 9 runs (4 cores), plus a small margin
ETL1_MAX_JOBS = 88
ETL2_MAX_JOBS = 66


def _job_id_mark(sc, group: str) -> int:
    """Run one tiny job under ``group`` and return its job id: job ids
    are sequential per SparkContext, so two marks bracket every job
    launched between them."""
    with _job_group(sc, group):
        sc.parallelize([0], 1).count()
    (job_id,) = sc.statusTracker().getJobIdsForGroup(group)
    return job_id


def test_runner_materializes_layers_and_is_idempotent(
    spark, pipeline, fixtures_dir, tmp_path
):
    """EP1+EP2 runner: silver/quarantine/gold materialized as parquet at
    layer boundaries, gold built FROM DISK (the FDW-boundary analog),
    every table read back from disk hash-equal to the DuckDB-checked
    in-memory composition (``pipeline``), and a full re-run is
    idempotent (dims and facts are recompute+overwrite). The re-run
    runs under a caller's job group: every job it launches, the
    observation branch's and the concurrent writers' included, must
    belong to that group. Its ETL1 and ETL2 job counts stay under
    bounds: a shared frame that stops being computed once (an unpinned
    dimension re-run by every frame reading it) adds jobs on any
    host."""
    import os

    from insect_observation_data_pipeline_spark.etl.runner import (
        run_etl1,
        run_etl2,
        run_pipeline,
    )
    from tools.compare import table_hash

    def hashes(df):
        return table_hash([tuple(r) for r in df.collect()], df.columns)

    want = {
        (layer, name): hashes(df)
        for layer in ("silver", "quarantine", "gold")
        for name, df in pipeline[layer].items()
    }

    def on_disk(dirs):
        return {
            (layer, entry.removesuffix(".parquet")): hashes(
                spark.read.parquet(os.path.join(dirs[layer], entry))
            )
            for layer in ("silver", "quarantine", "gold")
            for entry in sorted(os.listdir(dirs[layer]))
        }

    wh = str(tmp_path / "warehouse")
    dirs = run_pipeline(spark, str(fixtures_dir), wh)
    assert on_disk(dirs) == want

    # re-run: full recompute + overwrite => identical state
    sc = spark.sparkContext
    first = _job_id_mark(sc, "runner-before")
    with _job_group(sc, "g"):
        run_etl1(spark, str(fixtures_dir), wh)
    mid = _job_id_mark(sc, "runner-etl1")
    with _job_group(sc, "g"):
        run_etl2(spark, wh)
    last = _job_id_mark(sc, "runner-after")
    etl1_jobs, etl2_jobs = set(range(first + 1, mid)), set(range(mid + 1, last))
    assert etl1_jobs and etl2_jobs, "the re-run launched no job"
    assert etl1_jobs | etl2_jobs <= set(sc.statusTracker().getJobIdsForGroup("g"))
    assert on_disk(dirs) == want
    assert len(etl1_jobs) <= ETL1_MAX_JOBS, len(etl1_jobs)
    assert len(etl2_jobs) <= ETL2_MAX_JOBS, len(etl2_jobs)


def test_run_etl1_raises_observation_branch_failure_and_joins_it(
    spark, fixtures_dir, tmp_path
):
    """The observation staging half runs on a pool thread beside
    institutions -> users: its failure (an observations CSV whose header
    drifted, which the staging read rejects) fails ``run_etl1`` with
    that error, and no pool thread outlives the call."""
    import shutil
    import threading

    from py4j.protocol import Py4JJavaError

    from insect_observation_data_pipeline_spark.etl.runner import run_etl1

    raw = tmp_path / "raw"
    shutil.copytree(fixtures_dir, raw)
    obs = raw / "observations.csv"
    header, rows = obs.read_text().split("\n", 1)
    cols = header.split(",")
    cols[0], cols[1] = cols[1], cols[0]  # authors <-> title
    obs.write_text(",".join(cols) + "\n" + rows)

    before = threading.active_count()
    with pytest.raises(
        Py4JJavaError, match=r"(?s)observations\.csv.*CSV header does not conform"
    ):
        run_etl1(spark, str(raw), str(tmp_path / "warehouse"))
    assert threading.active_count() == before


def test_write_layers_raises_failed_write_and_joins_writers(spark, tmp_path):
    """A table whose write fails at execution time (a raising Python
    UDF) fails the whole ``_write_layers`` call with that error, and no
    writer thread outlives the call."""
    import threading

    from pyspark.errors import PythonException

    from insect_observation_data_pipeline_spark.etl.runner import _write_layers

    @F.udf("long")
    def boom(x):
        raise ValueError("write-wave-boom")

    ok = spark.range(3)
    before = threading.active_count()
    with pytest.raises(PythonException, match="write-wave-boom"):
        _write_layers(
            {
                str(tmp_path / "a"): {"ok1": ok, "bad": ok.select(boom("id"))},
                str(tmp_path / "b"): {"ok2": ok},
            }
        )
    assert threading.active_count() == before


def _assert_duckdb_parity(pipeline, fixtures_dir):
    """Replay the FULL ETL1+ETL2 dataflow in DuckDB over the same fixture
    CSVs and hash-compare every silver + gold table on its business-key
    projection (SK values are engine-local hashes; the referential
    structure is what the reference pins down). Institution identity is
    id-grain = (name, city) on both sides (round-13)."""
    import duckdb
    import duckdb_etl_oracle as ora

    s, g = pipeline["silver"], pipeline["gold"]
    q = pipeline["quarantine"]

    con = duckdb.connect()
    ora.build(con, str(fixtures_dir))

    dbl = lambda c: F.col(c).cast("double")

    counties = s["counties"].join(s["countries"], "country_id")
    # city identity is (city_name, county, country) as of round 15 —
    # the geography chain is name-keyed, so a bare city name can be
    # ambiguous and every projection carries the full chain
    cities = s["cities"].join(
        counties.select("county_id", "county_name", "country_name"),
        "county_id",
        "left",
    )
    institutions = s["institutions"].join(
        cities.select("city_id", "city_name", "county_name", "country_name"),
        "city_id",
        "left",
    )
    ui_bk = s["user_institution"].join(
        s["users"].select("user_id", "username"), "user_id"
    )
    us_bk = s["user_subscription"].join(
        s["users"].select("user_id", "username"), "user_id"
    )
    obs_bk = (
        s["observations"]
        .join(
            ui_bk.select(
                "user_institution_id", "username", "institution_name",
                "city_name", "county_name",
                F.col("start_date").alias("aff_start"),
            ),
            "user_institution_id",
            "left",
        )
        .join(
            s["pollinator_species"].select(
                "pollinator_id", F.col("species_name").alias("pollinator_species")
            ),
            "pollinator_id",
        )
        .join(
            s["plant_species"].select(
                "plant_id", F.col("species_name").alias("plant_species")
            ),
            "plant_id",
        )
        .join(s["castes"], "caste_id", "left")
        .join(s["habitats"], "habitat_id", "left")
        .join(s["locations"], "location_id", "left")
    )

    fact_poll_bk = (
        g["fact_pollination_activity"]
        .join(
            g["dim_pollinator"].select(
                "pollinator_sk", F.col("species_name").alias("pollinator_species")
            ),
            "pollinator_sk",
        )
        .join(g["dim_caste"].select("caste_sk", "caste_name"), "caste_sk", "left")
        .join(
            g["dim_plant"].select(
                "plant_sk", F.col("species_name").alias("plant_species")
            ),
            "plant_sk",
        )
        .join(
            g["dim_habitat"].select("habitat_sk", "habitat_name"),
            "habitat_sk",
            "left",
        )
        .join(
            g["dim_location"].select("location_sk", "latitude", "longitude"),
            "location_sk",
        )
        .join(g["dim_date"].select("date_sk", "year", "month"), "date_sk")
    )

    # institution city recovered by business-key join (the gold dim
    # mirrors the reference's DDL, which carries no city column; the
    # id-grain identity lives in institution_id_bk)
    inst_city = (
        s["institutions"]
        .join(
            s["cities"].select(
                "city_id", F.col("city_name").alias("institution_city")
            ),
            "city_id",
            "left",
        )
        .select(
            F.col("institution_id").alias("institution_id_bk"),
            "institution_city",
        )
    )

    def user_fact_bk(fact):
        out = (
            fact.join(g["dim_user"].select("user_sk", "username"), "user_sk")
            .join(
                g["dim_institution"].select(
                    "institution_sk",
                    "institution_id_bk",
                    F.col("start_date").alias("inst_start"),
                    "institution_name",
                ),
                "institution_sk",
            )
            .join(inst_city, "institution_id_bk", "left")
            .drop("institution_id_bk")
            .join(
                g["dim_subscription_type"].select(
                    "subscription_type_sk",
                    F.col("start_date").alias("sub_start"),
                    F.col("type_name").alias("sub_type"),
                ),
                "subscription_type_sk",
                "left",
            )
            .join(g["dim_date"].select("date_sk", "year", "month"), "date_sk")
        )
        return out

    pairs = {
        "countries_bk": s["countries"].select("country_name"),
        "counties_bk": counties.select("county_name", "country_name"),
        "cities_bk": cities.select("city_name", "county_name", "country_name"),
        "institutions_bk": institutions.select(
            "institution_name", "city_name", "county_name", "country_name"
        ),
        "users_bk": s["users"]
        .join(
            cities.select(
                "city_id", "city_name", "county_name"
            ),
            "city_id",
            "left",
        )
        .select(
            "username", "first_name", "last_name", "email", "join_date",
            "city_name", "county_name",
        ),
        "user_institution_bk": ui_bk.select(
            "username", "institution_name", "city_name", "county_name",
            "country_name", "start_date", "end_date",
        ),
        "user_subscription_bk": us_bk.select(
            "username", "subscription_type_name", "start_date", "end_date"
        ),
        "pollinator_species_bk": s["pollinator_species"].select(
            "species_name", "nbn_code"
        ),
        "plant_species_bk": s["plant_species"].select("species_name", "nbn_code"),
        "castes_bk": s["castes"].select("caste_name"),
        "habitats_bk": s["habitats"].select("habitat_name"),
        "locations_bk": s["locations"].select(
            dbl("latitude").alias("latitude"), dbl("longitude").alias("longitude")
        ),
        "users_q_bk": q["invalid_users"].select(
            F.trim("username").alias("username"), "error_message"
        ),
        "obs_q_bk": q["invalid_observations"].select("error_message"),
        "observations_bk": obs_bk.select(
            "username", "aff_start", "institution_name", "city_name",
            "county_name",
            "pollinator_species", "caste_name",
            "plant_species", "habitat_name",
            dbl("latitude").alias("latitude"),
            dbl("longitude").alias("longitude"),
            "observation_date", "interaction_count", "pollination_quality_id",
            "pollen_collected", "nectar_collected",
        ),
        "dim_date_bk": g["dim_date"].select(
            "year", "month", "month_name", "month_year"
        ),
        "bridge_bk": pipeline["gold"]["bridge_pollinator_caste"]
        .join(
            g["dim_pollinator"].select("pollinator_sk", "species_name"),
            "pollinator_sk",
        )
        .join(g["dim_caste"].select("caste_sk", "caste_name"), "caste_sk")
        .select("species_name", "caste_name"),
        "fact_pollination_bk": fact_poll_bk.select(
            "pollinator_species", "caste_name", "plant_species", "habitat_name",
            dbl("latitude").alias("latitude"),
            dbl("longitude").alias("longitude"),
            "year", "month", "interaction_count", "observation_count",
            "pollen_collected", "nectar_collected",
            "confirmed_pollination_count",
        ),
        "fact_user_location_bk": user_fact_bk(
            g["fact_user_location_monthly"].join(
                g["dim_location"].select("location_sk", "latitude", "longitude"),
                "location_sk",
            )
        ).select(
            "username",
            dbl("latitude").alias("latitude"),
            dbl("longitude").alias("longitude"),
            "year", "month", "inst_start", "institution_name",
            "institution_city", "sub_start", "sub_type",
            "observation_count", "interaction_count",
        ),
        "fact_user_monthly_bk": user_fact_bk(
            g["fact_user_monthly_summary"]
        ).select(
            "username", "year", "month", "inst_start", "institution_name",
            "institution_city", "sub_start", "sub_type",
            "observation_count", "interaction_count",
            "distinct_locations_count", "distinct_habitats_count",
            "distinct_pollinator_species_count", "distinct_plant_species_count",
        ),
    }

    failures = []
    for view, sdf in pairs.items():
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
        res = con.execute(f"SELECT * FROM {view}")
        d_cols = [d[0] for d in res.description]
        d_rows = res.fetchall()
        assert sorted(s_cols) == sorted(d_cols), (view, s_cols, d_cols)
        if ora.table_hash(s_rows, s_cols) != ora.table_hash(d_rows, d_cols):
            sl, dl = ora.table_lines(s_rows, s_cols), ora.table_lines(d_rows, d_cols)
            diff = next(
                (f"spark={a!r} duck={b!r}" for a, b in zip(sl, dl) if a != b),
                f"rowcount spark={len(sl)} duck={len(dl)}",
            )
            failures.append(f"{view}: {diff}")
    assert not failures, "\n".join(failures)


@pytest.mark.etl_replay
def test_duckdb_end_to_end_parity(pipeline, fixtures_dir):
    """VERDICT r1 #5: cross-engine replay on the reference-shaped
    fixtures."""
    _assert_duckdb_parity(pipeline, fixtures_dir)


@pytest.mark.etl_replay
def test_duckdb_end_to_end_parity_id_grain_edges(
    edge_pipeline, edge_fixtures_dir
):
    """VERDICT r12 #1: the same FULL replay over the id-grain edge
    fixtures — a duplicate-named institution in two cities, a two-
    institutions-one-date user, type-grain subscription keeps-both and
    the unknown-type drop, including the reference's earliest-fallback
    fan-out wart — must hash-match table-for-table. This is exactly the
    shape the round-12 SCD2/attribution fixes exist for, previously
    declared out of the oracle's (then name-grain) scope."""
    _assert_duckdb_parity(edge_pipeline, edge_fixtures_dir)


def test_latlon_overflow_quarantined(spark, pipeline):
    """Round-12 review (reference parity): the reference compares an
    UNBOUNDED decimal (04_ETL1_part3.sql:183-190), so latitude='1000.0'
    is 'Invalid latitude'. try_cast(decimal(9,6)) NULLed on overflow and
    three-valued logic then classified the row VALID — a phantom silver
    row + a phantom NULL-lat location the reference never creates."""
    from insect_observation_data_pipeline_spark.etl import etl1

    staged = _volume_staged(spark, 4)
    staged = staged.withColumn(
        "latitude",
        F.when(F.col("raw_data_id") == 0, "1000.0")       # decimal(9,6) overflow
        .when(F.col("raw_data_id") == 1, "100.0")          # fits, out of range
        .when(F.col("raw_data_id") == 2, F.lit("1" * 45))  # overflows (38,18) too
        .otherwise(F.col("latitude")),
    ).withColumn(
        "longitude",
        F.when(F.col("raw_data_id") == 0, "-1000.0").otherwise(F.col("longitude")),
    )
    r = etl1.load_observations(
        staged, pipeline["silver"]["users"], pipeline["silver"]["user_institution"]
    )
    bad = {
        row["raw_data_id"]: row["error_message"]
        for row in r.quarantine["invalid_observations"].collect()
    }
    assert set(bad) == {0, 1, 2}
    assert all("Invalid latitude." in m for m in bad.values())
    assert r.silver["observations"].count() == 1  # only raw_data_id 3


def test_user_institution_reference_parity_edges(spark):
    """Round-12 review (reference parity, 03_ETL1_part2.sql:191-211):
    (a) an affiliation naming an institution that does not exist gets NO
    interval (reference INNER join; the old left join minted a
    NULL-institution interval that shifted end-date chains);
    (b) a user joining two institutions on the same date keeps BOTH
    intervals (reference dedup key is (user, institution, start); the
    old (user, start) key silently dropped one);
    (c) user_institution_id stays unique when one institution name maps
    to two cities (two institution_ids — the old hash over
    (user_id, start) minted duplicate ids, which double-counted
    observations in etl2's attribution join)."""
    from insect_observation_data_pipeline_spark.etl import etl1

    inst_stg = spark.createDataFrame(
        [
            ("NHM", "London", "Greater London", "United Kingdom"),
            ("NHM", "Oxford", "Oxfordshire", "United Kingdom"),
            ("Solo Lab", "Leeds", "West Yorkshire", "United Kingdom"),
        ],
        "institution string, city string, county string, country string",
    )
    r1 = etl1.load_institutions(inst_stg)
    users_stg = spark.createDataFrame(
        [
            # (b): two institutions, same start date
            ("A. One", "aone", "a@x.org", "NHM", "2020-01-01",
             "London", "", "Free", "2020-01-01", "2020-01-01"),
            ("A. One", "aone", "a@x.org", "Solo Lab", "2020-01-01",
             "Leeds", "", "Free", "2020-01-01", "2020-01-01"),
            # (a): unknown institution -> no interval
            ("B. Two", "btwo", "b@x.org", "Ghost Institute", "2020-01-01",
             "", "", "Free", "2020-01-01", "2020-01-01"),
        ],
        "full_name string, username string, email string, institution string,"
        " affiliation_start string, city string, county string,"
        " subscription_type string, subscription_start string,"
        " join_date string",
    )
    r2 = etl1.load_users(users_stg, r1.silver)
    ui = r2.silver["user_institution"].collect()
    by_user = {}
    for row in ui:
        by_user.setdefault(row["institution_name"], []).append(row)
    # (a) Ghost Institute minted nothing
    assert "Ghost Institute" not in by_user
    # (b)+(c): aone has NHM x2 cities + Solo Lab = 3 intervals,
    # all with distinct surrogate ids
    assert len(ui) == 3
    assert len({row["user_institution_id"] for row in ui}) == 3
    assert len(by_user["NHM"]) == 2 and len(by_user["Solo Lab"]) == 1
    # (d) round-13: the end-date chain tiebreaks on the institution's
    # BUSINESS identity (name, city) — for aone's three same-dated
    # intervals the chain order is NHM/London < NHM/Oxford < Solo Lab,
    # so the first two are end-dated to start-1 and the last stays open
    ends = {
        (row["institution_name"], row["city_name"]): row["end_date"]
        for row in ui
    }
    import datetime

    prev_day = datetime.date(2019, 12, 31)
    assert ends[("NHM", "London")] == prev_day
    assert ends[("NHM", "Oxford")] == prev_day
    assert ends[("Solo Lab", "Leeds")] is None


def test_user_institution_duplicate_name_city_tiebreak(spark):
    """Round-15 parity (was round-13 verdict #3): a CSV row named exactly
    'Unaffiliated' collides with the PRE-SEEDED institution, and the
    reference's insert gate — stg.institution NOT IN (SELECT
    institution_name FROM institutions), run against the seeded table
    (02_ETL1_part1.sql:69-78 + 01_create_oltp.sql:148-150) — means it
    is never inserted: ONE institution row (the seed, id 0), one SCD2
    interval per affiliated user. (Until round 15 the engine minted a
    second hash-id row here — the last shape where two institution rows
    shared a full business identity; with it gated off, the hash-id
    tiebreak leg is pure safety, never semantics.)"""
    from insect_observation_data_pipeline_spark.etl import etl1

    inst_stg = spark.createDataFrame(
        [("Unaffiliated", None, None, "United Kingdom")],
        "institution string, city string, county string, country string",
    )
    r1 = etl1.load_institutions(inst_stg)
    inst_rows = r1.silver["institutions"].collect()
    assert [(r["institution_id"], r["city_id"]) for r in inst_rows] == [
        (0, None)
    ]

    users_stg = spark.createDataFrame(
        [("C. Three", "cthree", "c@x.org", "Unaffiliated", "2020-01-01",
          "", "", "Free", "2020-01-01", "2020-01-01")],
        "full_name string, username string, email string, institution string,"
        " affiliation_start string, city string, county string,"
        " subscription_type string, subscription_start string,"
        " join_date string",
    )
    r2 = etl1.load_users(users_stg, r1.silver)
    ui = r2.silver["user_institution"].collect()
    assert len(ui) == 1  # one interval, at the seed
    assert ui[0]["institution_id"] == 0 and ui[0]["end_date"] is None


def test_user_subscription_reference_parity_edges(spark):
    """Round-13 parity (03_ETL1_part2.sql:137-156), mirroring the
    institution edge test one table over:
    (a) an unknown (non-seeded) subscription type gets NO interval —
        the reference INNER-joins the seeded subscription_types — while
        the user row itself still lands in users;
    (b) two seeded types starting the same date keep BOTH intervals
        (reference dedup key is (user, type, start)) with distinct
        surrogate ids (the old (user, start) key dropped one and the
        old (user, start) hash would collide);
    (c) the end-date chain is deterministic: ties break on type_name,
        so Free is end-dated to start-1 and Pro chains forward."""
    import datetime

    from insect_observation_data_pipeline_spark.etl import etl1

    inst_stg = spark.createDataFrame(
        [("Solo Lab", "Leeds", "West Yorkshire", "United Kingdom")],
        "institution string, city string, county string, country string",
    )
    r1 = etl1.load_institutions(inst_stg)
    users_stg = spark.createDataFrame(
        [
            ("A. One", "aone", "a@x.org", "Solo Lab", "2020-01-01",
             "Leeds", "", "Free", "2020-01-01", "2020-01-01"),
            ("A. One", "aone", "a@x.org", "Solo Lab", "2020-01-01",
             "Leeds", "", "Pro", "2020-01-01", "2020-01-01"),
            ("A. One", "aone", "a@x.org", "Solo Lab", "2020-01-01",
             "Leeds", "", "GoldTier", "2020-01-01", "2020-01-01"),
            ("A. One", "aone", "a@x.org", "Solo Lab", "2020-01-01",
             "Leeds", "", "HiveMind", "2021-06-01", "2020-01-01"),
            # (a) a user whose ONLY subscription names an unknown type
            ("B. Two", "btwo", "b@x.org", "Solo Lab", "2020-01-01",
             "Leeds", "", "SilverTier", "2020-01-01", "2020-01-01"),
        ],
        "full_name string, username string, email string, institution string,"
        " affiliation_start string, city string, county string,"
        " subscription_type string, subscription_start string,"
        " join_date string",
    )
    r2 = etl1.load_users(users_stg, r1.silver)
    users = {r["username"] for r in r2.silver["users"].collect()}
    assert users == {"aone", "btwo"}  # unknown type never drops the USER
    us = r2.silver["user_subscription"].collect()
    uid = {r["username"]: r["user_id"] for r in r2.silver["users"].collect()}
    mine = [r for r in us if r["user_id"] == uid["aone"]]
    # (a)+(b): GoldTier/SilverTier minted nothing; Free+Pro both kept
    assert not [r for r in us if r["user_id"] == uid["btwo"]]
    assert {r["subscription_type_name"] for r in mine} == {
        "Free", "Pro", "HiveMind"
    }
    assert len({r["user_subscription_id"] for r in mine}) == 3
    # (c) deterministic chain: Free -> Pro -> HiveMind
    ends = {r["subscription_type_name"]: r["end_date"] for r in mine}
    assert ends["Free"] == datetime.date(2019, 12, 31)
    assert ends["Pro"] == datetime.date(2021, 5, 31)
    assert ends["HiveMind"] is None


def test_edge_pipeline_grain_and_sk_uniqueness(edge_pipeline):
    """Round-13: the keeps-both shapes are exactly where the old
    (user, start) dim hashes collided — assert sk uniqueness ON the edge
    pipeline (the original-fixture runs never exercise a tie), then pin
    the subscription fan-out semantics the reference's fact joins imply
    (08_ETL2_part2.sql:97-104), which the old colliding sks silently
    merged:
    - subuser's 2019-02 observation has NO active subscription, so the
      earliest-fallback matches BOTH types starting at join_date -> TWO
      fact rows (distinct subscription sks), one count each;
    - subuser's 2019-06 observation has Pro ACTIVE, but the earliest
      LEFT join still fans out 2x and both rows coalesce to the SAME
      Pro sk -> ONE fact row counting the single observation twice (the
      reference's double-count wart, mirrored by engine and oracle)."""
    from insect_observation_data_pipeline_spark.functions.keys import assert_unique

    s, g = edge_pipeline["silver"], edge_pipeline["gold"]
    assert_unique(s["user_institution"], "user_institution_id")
    assert_unique(s["user_subscription"], "user_subscription_id")
    assert_unique(g["dim_institution"], "institution_sk")
    assert_unique(g["dim_subscription_type"], "subscription_type_sk")

    fact = (
        g["fact_user_monthly_summary"]
        .join(g["dim_user"].select("user_sk", "username"), "user_sk")
        .join(g["dim_date"].select("date_sk", "year", "month"), "date_sk")
        .filter(F.col("username") == "subuser")
    )
    feb = fact.filter((F.col("year") == 2019) & (F.col("month") == 2)).collect()
    assert len(feb) == 2, feb  # Free + Pro earliest-fallback rows
    assert len({r["subscription_type_sk"] for r in feb}) == 2
    assert sorted(r["observation_count"] for r in feb) == [1, 1]
    jun = fact.filter((F.col("year") == 2019) & (F.col("month") == 6)).collect()
    assert len(jun) == 1, jun  # one Pro row...
    assert jun[0]["observation_count"] == 2  # ...counting one obs twice


def test_write_layer_clears_stale_tables(spark, tmp_path):
    """Round-13 review: overwrite is per-table, so a table dropped or
    renamed between runs survived on disk and _read_layer fed the stale
    frame downstream — the layer directory is cleared per rebuild."""
    from insect_observation_data_pipeline_spark.etl.runner import _read_layer, _write_layers

    d = str(tmp_path / "silver")
    df = spark.createDataFrame([(1,)], "a int")
    _write_layers({d: {"old_name": df}})
    _write_layers({d: {"new_name": df}})
    assert set(_read_layer(spark, d)) == {"new_name"}


def test_nbn_repairs_reference_parity(spark):
    """Round-14 parity (04_ETL1_part3.sql:240-290): six pollinator
    canonicalizations matched case-insensitively, and the plant repair
    CONDITIONAL on the known-bad old code — the old table carried a
    wrong Apis code, an unconditional plant repair with a wrong target,
    and missed five species (the replay oracle had mirrored the same
    constants, so only a source-level check could catch it)."""
    from insect_observation_data_pipeline_spark.etl.etl1 import _repair_codes

    df = spark.createDataFrame(
        [
            (1, "APIS MELLIFERA", "junk", "Prunella vulgaris",
             "nhmsys0000462067"),
            (2, "Andrena flavipes", "xx", "PRUNELLA VULGARIS",
             "NBNSYS0000004225"),
            (3, "Melanostoma mellinum", None, "Other plant",
             "nhmsys0000462067"),
            (4, "Andrena scotica", "yy", "Trifolium repens", "keepme"),
        ],
        "rid int, pollinator_species string, nbn_pollinator_code string,"
        " plant_species string, nbn_plant_code string",
    )
    rows = {r["rid"]: r for r in _repair_codes(df).collect()}
    assert rows[1]["nbn_pollinator_code"] == "NHMSYS0000875423"
    assert rows[2]["nbn_pollinator_code"] == "NHMSYS0000875202"
    # NULL code stays NULL: the reference gates each UPDATE with
    # `nbn_pollinator_code != '<new>'`, which never fires on NULL
    # (round-15 ADVICE).
    assert rows[3]["nbn_pollinator_code"] is None
    assert rows[4]["nbn_pollinator_code"] == "NHMSYS0000875268"
    # plant: repaired only where species matches AND old code is the bad one
    assert rows[1]["nbn_plant_code"] == "NBNSYS0000004225"  # repaired
    assert rows[2]["nbn_plant_code"] == "NBNSYS0000004225"  # already right
    assert rows[3]["nbn_plant_code"] == "NHMSYS0000462067"  # other species
    assert rows[4]["nbn_plant_code"] == "KEEPME"  # only uppercased


def test_user_validation_cascades_by_username(spark):
    """Round-14 parity (03_ETL1_part2.sql:72-74): ONE invalid staging row
    poisons the username — the reference deletes every row sharing it,
    so the valid twin must not mint the user (the old per-row split
    created alice plus her SCD2 intervals)."""
    from insect_observation_data_pipeline_spark.etl import etl1

    inst = etl1.load_institutions(
        spark.createDataFrame(
            [("Lab", "Leeds", "West Yorkshire", "UK")],
            "institution string, city string, county string, country string",
        )
    )
    stg = spark.createDataFrame(
        [
            ("A. One", "alice", "a@x.org", "Lab", "2020-01-01", "", "",
             "Free", "2020-01-01", "2020-01-01"),
            ("A. One", "alice", "a@x.org", "Lab", "garbage", "", "",
             "Free", "2020-01-01", "2020-01-01"),
            ("B. Two", "bob", "b@x.org", "Lab", "2020-01-01", "", "",
             "Free", "2020-01-01", "2020-01-01"),
        ],
        "full_name string, username string, email string,"
        " institution string, affiliation_start string, city string,"
        " county string, subscription_type string,"
        " subscription_start string, join_date string",
    )
    r = etl1.load_users(stg, inst.silver)
    assert {u["username"] for u in r.silver["users"].collect()} == {"bob"}
    assert (
        r.silver["user_institution"]
        .join(r.silver["users"], "user_id")
        .filter(F.col("username") == "alice")
        .count()
        == 0
    )
    # the quarantine still reports only the offending ROW
    assert r.quarantine["invalid_users"].count() == 1


def test_unmatched_authors_never_inserted(pipeline):
    """Round-14 parity (04_ETL1_part3.sql:390-416): the reference's
    INNER author->user->affiliation joins never insert an observation
    without an attribution — silver carries no NULL
    user_institution_id."""
    obs = pipeline["silver"]["observations"]
    assert obs.filter(F.col("user_institution_id").isNull()).count() == 0


@pytest.fixture(scope="module")
def geo_pipeline(spark, geo_fixtures_dir):
    return _build_pipeline(spark, geo_fixtures_dir)


@pytest.mark.etl_replay
def test_duckdb_end_to_end_parity_geography_edges(
    geo_pipeline, geo_fixtures_dir
):
    """Round-15 parity (VERDICT r14 #1): the FULL replay over the
    geography edge fixtures — one city name in two counties (cities
    fan; institutions fan with DISTINCT ids), a NULL-county city that
    never lands, users-CSV-only geography inserts, users.city_id
    resolution through the ambiguous name, and county-grain SCD2 /
    attribution tiebreaks — must hash-match table-for-table."""
    _assert_duckdb_parity(geo_pipeline, geo_fixtures_dir)


def test_geography_name_keyed_insert_if_absent(geo_pipeline):
    """Round-15 parity (02_ETL1_part1.sql:37-78, 03_ETL1_part2.sql:
    76-107): geography dedups by bare NAME across the institutions-then-
    users batch order, cities INNER-join counties, and the users batch
    adds only genuinely new names."""
    s = geo_pipeline["silver"]
    cities = {
        (r["city_name"], r["county_id"]) for r in s["cities"].collect()
    }
    counties = {r["county_id"]: r["county_name"] for r in s["counties"].collect()}
    by_name: dict = {}
    for city, cid in cities:
        by_name.setdefault(city, set()).add(counties[cid])
    # the ambiguous name landed once per county (in-batch fan)...
    assert by_name["Marsden"] == {"West Yorkshire", "Cumbria"}
    # ...the NULL-county city never landed (INNER join to counties)...
    assert "Ghylldale" not in by_name
    # ...and the users-batch additions landed under the right county
    assert by_name["Ambleton"] == {"Loamshire"}
    assert by_name["Newtown"] == {"West Yorkshire"}
    # users-batch county insert: Loamshire is new; West Yorkshire was
    # NOT duplicated by knownc's row (insert-if-absent by name)
    names = sorted(counties.values())
    assert names == ["Cumbria", "Essex", "Loamshire", "West Yorkshire"]


def test_institution_city_fanout_distinct_ids(geo_pipeline):
    """Round-15 parity: one city NAME under two counties fans each
    institution in that city into one row per city row — with DISTINCT
    surrogate ids (the old (name, city_name) hash minted the same id
    twice), while two all-NULL-city staging rows would collapse (dedup
    AFTER the city join, on (name, city_id))."""
    from insect_observation_data_pipeline_spark.functions.keys import assert_unique

    s = geo_pipeline["silver"]
    inst = s["institutions"].collect()
    assert_unique(s["institutions"], "institution_id")
    fanned = [r for r in inst if r["institution_name"] == "Riverside Institute"]
    assert len(fanned) == 2
    assert len({r["institution_id"] for r in fanned}) == 2
    assert len({r["city_id"] for r in fanned}) == 2
    # the NULL-county institution has a NULL city_id (its city never
    # landed), not a minted city row
    hilltop = [r for r in inst if r["institution_name"] == "Hilltop Observatory"]
    assert len(hilltop) == 1 and hilltop[0]["city_id"] is None


def test_users_city_id_resolution(geo_pipeline):
    """Round-15 parity (03_ETL1_part2.sql:108-127): silver users carry a
    city_id resolved by city-name LEFT JOIN — the ambiguous name picks
    deterministically by the (city, county, country) order legs, the
    users-batch city resolves, and an unmatched city stays NULL."""
    s = geo_pipeline["silver"]
    cities = {r["city_id"]: (r["city_name"], r["county_id"]) for r in s["cities"].collect()}
    counties = {r["county_id"]: r["county_name"] for r in s["counties"].collect()}
    users = {r["username"]: r for r in s["users"].collect()}
    assert "city_id" in s["users"].columns

    def city_of(u):
        cid = users[u]["city_id"]
        if cid is None:
            return None
        name, county_id = cities[cid]
        return (name, counties[county_id])

    # ambiguous name: Cumbria < West Yorkshire on the county leg
    assert city_of("marsfan") == ("Marsden", "Cumbria")
    # users-batch-only geography resolves
    assert city_of("newcity") == ("Ambleton", "Loamshire")
    assert city_of("knownc") == ("Newtown", "West Yorkshire")
    # Ghylldale never landed as a city -> NULL
    assert city_of("ghyll") is None


def test_fanned_affiliation_county_tiebreak(geo_pipeline):
    """Round-15 parity: marsfan's one affiliation row fans into BOTH
    county-variants of Riverside Institute (the reference's
    institution-name join), end-dated deterministically on the county
    leg; attribution picks the open slice for in-interval dates and the
    county-ordered slice for the p3 fallback."""
    s = geo_pipeline["silver"]
    users = {r["user_id"]: r["username"] for r in s["users"].collect()}
    ui = [
        r
        for r in s["user_institution"].collect()
        if users[r["user_id"]] == "marsfan"
        and r["institution_name"] == "Riverside Institute"
    ]
    assert len(ui) == 2
    by_county = {r["county_name"]: r for r in ui}
    assert set(by_county) == {"Cumbria", "West Yorkshire"}
    # county order end-dates Cumbria degenerately; West Yorkshire open
    assert by_county["Cumbria"]["end_date"] is not None
    assert by_county["West Yorkshire"]["end_date"] is None
