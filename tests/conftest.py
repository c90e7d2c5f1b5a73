from __future__ import annotations

import csv
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from insect_observation_data_pipeline_spark import get_spark


@pytest.fixture(scope="session")
def spark():
    import os

    if os.environ.get("SPARK_GRAFT_TEST_VANILLA"):
        # driver-environment parity sweep: a bare session with NONE of
        # get_spark()'s pins (no UTC tz, no inferTimestampNTZ=false) —
        # parquet timestamps come back TIMESTAMP_NTZ exactly as on the
        # driver. Used to prove the streaming/batch surface survives an
        # unpinned session (the j14 failure class); the machine tz is
        # UTC, so value assertions still hold.
        from pyspark.sql import SparkSession

        s = (
            SparkSession.builder.appName("tests-vanilla")
            .master("local[4]")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            # JVM heap is an infra sizing knob, not a semantic pin — the
            # sweep targets config-coupled SEMANTICS (NTZ inference, tz,
            # shuffle-partition-sensitive plans); without this the
            # broadcast-heavy sink tests OOM a default 1g driver, which
            # says nothing about driver-session parity
            .config(
                "spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
            )
            .getOrCreate()
        )
    else:
        s = get_spark(
            "tests",
            master="local[4]",
            shuffle_partitions=4,
            extra_conf={"spark.ui.enabled": "false"},
        )
    s.sparkContext.setLogLevel("ERROR")
    yield s


def write_csv(path: Path, header: list[str], rows: list[tuple]) -> str:
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)
    return str(path)


OBS_HEADER = [
    "authors", "title", "journal", "pub_year", "pub_vol", "doi",
    "methodology", "pollinator_survey", "plant_survey",
    "nbn_pollinator_code", "col_pollinator_code", "pollinator_species",
    "caste", "nbn_plant_code", "col_plant_code", "plant_species",
    "interactions", "date", "month", "year", "grid_letter", "grid_code",
    "latitude", "longitude", "habitat", "pollination", "pollen",
    "nectar", "record", "articleurl",
]

USERS_HEADER = [
    "full_name", "username", "email", "institution",
    "affiliation_start", "city", "county", "subscription_type",
    "subscription_start", "join_date",
]


def _obs_row(authors, poll_sp, plant_sp, caste="worker", inter="3", day="14",
             month="6", year="2019", lat="50.867", lon="-0.087",
             habitat="urban", quality="1", pollen="Y", nectar="N",
             nbn_poll="nhmsys0000875423", nbn_plant="NA"):
    return (
        authors, "T", "J", "2020", "1", "doi", "m", "ps", "pls",
        nbn_poll, "NA", poll_sp, caste, nbn_plant, "NA", plant_sp,
        inter, day, month, year, "", "", lat, lon, habitat, quality,
        pollen, nectar, "r", "url",
    )


@pytest.fixture(scope="session")
def fixtures_dir(tmp_path_factory) -> Path:
    """Reference-shaped fixture CSVs (FIXTURES.md §1-3)."""
    d = tmp_path_factory.mktemp("fixtures")

    write_csv(
        d / "institutions.csv",
        ["institution", "city", "county"],
        [
            ("Institute of Advanced Waggling", "Oxford", "Oxfordshire"),
            ("The Bumblebee Behaviour Bureau", "Colchester", "Essex"),
            ("Apiary Analytics", "Oxford", "Oxfordshire"),
            ("", "Nowhere", "NA"),  # -> quarantine
        ],
    )

    write_csv(
        d / "users.csv",
        [
            "full_name", "username", "email", "institution",
            "affiliation_start", "city", "county", "subscription_type",
            "subscription_start", "join_date",
        ],
        [
            # chapdude63: 3 rows -> institution change + subscription change (SCD2)
            ("R. E. Chapman", "chapdude63", "r63@iw.org",
             "Institute of Advanced Waggling", "2018-04-08", "Oxford",
             "Oxfordshire", "Free", "2018-04-08", "2018-04-08"),
            ("R. E. Chapman", "chapdude63", "r63@iw.org",
             "The Bumblebee Behaviour Bureau", "2019-01-07", "Oxford",
             "Oxfordshire", "Free", "2018-04-08", "2018-04-08"),
            ("R. E. Chapman", "chapdude63", "r63@iw.org",
             "The Bumblebee Behaviour Bureau", "2019-01-07", "Oxford",
             "Oxfordshire", "Pro", "2020-04-10", "2018-04-08"),
            # org-format name (no initials)
            ("The North London Natural History Society", "nlnhs",
             "info@nlnhs.org", "Unaffiliated", "2017-01-01", "London", "",
             "HiveMind", "2017-01-01", "2017-01-01"),
            # plain user
            ("A. Smith", "asmith", "a@s.org", "Apiary Analytics",
             "2019-06-01", "Oxford", "Oxfordshire", "Free", "2019-06-01",
             "2019-06-01"),
            # invalid: missing email
            ("B. Broken", "bbroken", "", "Apiary Analytics", "2019-06-01",
             "", "", "Free", "2019-06-01", "2019-06-01"),
            # invalid: bad date
            ("C. Badd", "cbadd", "c@b.org", "Apiary Analytics",
             "not-a-date", "", "", "Free", "2019-06-01", "2019-06-01"),
        ],
    )

    obs = _obs_row

    rows = [
        obs("Chapman R.E., Smith A.", "apis mellifera", "prunella vulgaris"),
        # exact duplicate — legal, must survive (README.md:19)
        obs("Chapman R.E., Smith A.", "apis mellifera", "prunella vulgaris"),
        # missing month -> January placeholder
        obs("Chapman R.E.", "bombus terrestris", "trifolium repens",
            month="NA", day="NA"),
        # missing year -> NULL observation date
        obs("Chapman R.E.", "bombus terrestris", "trifolium repens",
            year="NA"),
        # observation predating chapdude63's first affiliation (2018-04-08)
        obs("Chapman R.E.", "apis mellifera", "trifolium repens",
            year="2005", month="3", day="2"),
        # impossible date: Feb 31 -> clamp to 28
        obs("Smith A.", "apis mellifera", "prunella vulgaris",
            month="2", day="31", lat="51.5", lon="-0.1", habitat="suburban"),
        # same location as row 1 (locations dedup)
        obs("Smith A.", "bombus terrestris", "prunella vulgaris"),
        # quarantine rows, one per family:
        obs("NA", "apis mellifera", "prunella vulgaris"),          # authors
        obs("Smith A.", "NA", "prunella vulgaris"),                # pollinator
        obs("Smith A.", "apis mellifera", "prunella vulgaris",
            inter="three"),                                        # interactions
        obs("Smith A.", "apis mellifera", "prunella vulgaris",
            lat="95.0"),                                           # latitude range
        obs("Smith A.", "apis mellifera", "prunella vulgaris",
            quality="5"),                                          # pollination
        obs("Smith A.", "apis mellifera", "prunella vulgaris",
            pollen="X"),                                           # pollen flag
        # unknown author -> no user match -> DROPPED, never inserted
        # (reference INNER join, 04_ETL1_part3.sql:390-395; its species
        # still reach the lookup tables, populated pre-attribution)
        obs("Unknownperson Z.", "apis mellifera", "prunella vulgaris"),
    ]
    write_csv(d / "observations.csv", OBS_HEADER, rows)
    return d


@pytest.fixture(scope="session")
def edge_fixtures_dir(tmp_path_factory) -> Path:
    """ID-GRAIN edge fixtures (round-13, VERDICT r12 #1): the shapes the
    round-12 SCD2/attribution fixes exist for —
    - a duplicate-NAMED institution in two cities (institution identity
      is (name, city); a name-grain chain would fan out 2x);
    - a user joining two institutions on one date (keeps-both dedup +
      deterministic (name, city) tiebreaks in end-dating/attribution);
    - subscription edges: an unknown (non-seeded) type gets NO interval,
      and two seeded types starting the same date keep BOTH (type-grain
      dedup), including the reference's earliest-fallback fan-out wart
      (08_ETL2_part2.sql:101-104: both LEFT joins can fan out).
    Consumed by the FULL ETL1+ETL2 DuckDB replay parity test."""
    d = tmp_path_factory.mktemp("edge_fixtures")

    write_csv(
        d / "institutions.csv",
        ["institution", "city", "county"],
        [
            ("Natural History Collective", "Oxford", "Oxfordshire"),
            ("Natural History Collective", "Leeds", "West Yorkshire"),
            ("Solo Lab", "Colchester", "Essex"),
            ("Apiary Annex", "Colchester", "Essex"),
        ],
    )

    write_csv(
        d / "users.csv",
        USERS_HEADER,
        [
            # dupuser: one affiliation row naming the DUPLICATE name ->
            # joins BOTH cities -> two same-dated intervals; later moves
            # to Solo Lab
            ("D. Dupont", "dupuser", "d@x.org", "Natural History Collective",
             "2019-01-01", "Oxford", "Oxfordshire", "Free", "2019-01-01",
             "2019-01-01"),
            ("D. Dupont", "dupuser", "d@x.org", "Solo Lab", "2020-06-01",
             "Oxford", "Oxfordshire", "Free", "2019-01-01", "2019-01-01"),
            # twoinst: two DIFFERENT institutions, same start date
            ("T. Tworow", "twoinst", "t@x.org", "Apiary Annex", "2019-04-01",
             "Colchester", "Essex", "HiveMind", "2019-04-01", "2019-04-01"),
            ("T. Tworow", "twoinst", "t@x.org", "Solo Lab", "2019-04-01",
             "Colchester", "Essex", "HiveMind", "2019-04-01", "2019-04-01"),
            # subuser: two seeded types on one date (keeps both) + an
            # unknown type (no interval) + a later type change
            ("S. Subton", "subuser", "s@x.org", "Solo Lab", "2019-01-01",
             "Colchester", "Essex", "Free", "2019-03-01", "2019-03-01"),
            ("S. Subton", "subuser", "s@x.org", "Solo Lab", "2019-01-01",
             "Colchester", "Essex", "Pro", "2019-03-01", "2019-03-01"),
            ("S. Subton", "subuser", "s@x.org", "Solo Lab", "2019-01-01",
             "Colchester", "Essex", "GoldTier", "2019-03-01", "2019-03-01"),
            ("S. Subton", "subuser", "s@x.org", "Solo Lab", "2019-01-01",
             "Colchester", "Essex", "HiveMind", "2020-01-01", "2019-03-01"),
            # ghostu: only affiliation names an unknown institution ->
            # NO interval -> authored observations are DROPPED (the
            # reference's INNER join to user_institution; round-14)
            ("G. Ghostman", "ghostu", "g@x.org", "Ghost Lab", "2019-01-01",
             "", "", "Free", "2019-01-01", "2019-01-01"),
        ],
    )

    rows = [
        # p1 within NHC-Oxford's interval (Leeds slice is the degenerate
        # end-dated twin)
        _obs_row("Dupont D.", "apis mellifera", "prunella vulgaris",
                 year="2019", month="6", day="15"),
        # predates first_start; BOTH same-start NHC intervals are p3 ->
        # city tiebreak picks Leeds
        _obs_row("Dupont D.", "bombus terrestris", "trifolium repens",
                 year="2018", month="5", day="1", habitat="meadow"),
        # NULL date -> p2 = open-ended interval (Solo Lab)
        _obs_row("Dupont D.", "apis mellifera", "trifolium repens",
                 year="NA", month="NA", day="NA"),
        # predates twoinst's tied same-date intervals; name tiebreak
        # picks Apiary Annex
        _obs_row("Tworow T.", "apis mellifera", "prunella vulgaris",
                 year="2019", month="1", day="15", lat="51.5", lon="-0.1"),
        # p1 Solo Lab (Annex slice is the degenerate end-dated twin)
        _obs_row("Tworow T.", "bombus terrestris", "prunella vulgaris",
                 year="2019", month="5", day="1"),
        # before any live subscription -> earliest-fallback matches BOTH
        # types starting at join_date (the reference's fan-out wart)
        _obs_row("Subton S.", "apis mellifera", "prunella vulgaris",
                 year="2019", month="2", day="1"),
        # active subscription (Pro); the earliest LEFT join still fans
        # out 2x and both rows coalesce to the SAME Pro slice, so the
        # fact counts this one observation twice (the reference's
        # double-count wart, 08_ETL2_part2.sql:97-104 — mirrored
        # identically by engine and oracle)
        _obs_row("Subton S.", "apis mellifera", "prunella vulgaris",
                 year="2019", month="6", day="1"),
        # exact duplicate of row 1 — append-only, must survive
        _obs_row("Dupont D.", "apis mellifera", "prunella vulgaris",
                 year="2019", month="6", day="15"),
        # DROPPED, never inserted (reference INNER joins to users AND
        # user_institution): a user with no affiliation interval, and an
        # author matching no user (round-14 parity)
        _obs_row("Ghostman G.", "bombus terrestris", "trifolium repens",
                 year="2019", month="7", day="2"),
        _obs_row("Nobody N.", "apis mellifera", "prunella vulgaris",
                 year="2019", month="7", day="3"),
        # quarantine: latitude out of range
        _obs_row("Dupont D.", "apis mellifera", "prunella vulgaris",
                 lat="200.0"),
    ]
    write_csv(d / "observations.csv", OBS_HEADER, rows)
    return d


@pytest.fixture(scope="session")
def geo_fixtures_dir(tmp_path_factory) -> Path:
    """GEOGRAPHY edge fixtures (round-15 parity rework): the reference's
    name-keyed insert-if-absent geography semantics
    (02_ETL1_part1.sql:37-78, 03_ETL1_part2.sql:76-127) —
    - one city NAME under two counties in the institutions CSV: both
      city rows land (in-statement DISTINCT over pairs), and every
      institution in that city fans into one row PER city row with
      DISTINCT ids (the old (name, city_name) hash minted duplicates);
    - a NULL-county institution city: the cities insert INNER-joins
      counties, so the city never lands and the institution's city_id
      stays NULL;
    - users-CSV-only geography: a county+city seen only in users.csv is
      inserted by the users batch, and the user's city_id resolves;
    - a user in the ambiguous city: the city-name LEFT JOIN fans, and
      the deterministic (city, county, country) order legs pick one;
    - a user affiliated with the fanned institution: two same-dated
      intervals whose end-date chain and attribution tiebreak on COUNTY.
    Consumed by the FULL ETL1+ETL2 DuckDB replay parity test."""
    d = tmp_path_factory.mktemp("geo_fixtures")

    write_csv(
        d / "institutions.csv",
        ["institution", "city", "county"],
        [
            # Marsden exists in BOTH West Yorkshire and Cumbria ->
            # cities fan; every Marsden institution fans with them
            ("Riverside Institute", "Marsden", "West Yorkshire"),
            ("Canalside Labs", "Marsden", "Cumbria"),
            # NULL county -> Ghylldale never lands as a city
            ("Hilltop Observatory", "Ghylldale", "NA"),
            # plain control row
            ("Lowland Archive", "Colchester", "Essex"),
        ],
    )

    write_csv(
        d / "users.csv",
        USERS_HEADER,
        [
            # marsfan: lives in the AMBIGUOUS city; affiliated with the
            # fanned institution -> two same-dated intervals
            ("M. Marsfan", "marsfan", "m@x.org", "Riverside Institute",
             "2019-01-01", "Marsden", "West Yorkshire", "Free",
             "2019-01-01", "2019-01-01"),
            # newcity: county+city exist ONLY in users.csv -> users-batch
            # geography insert; city_id resolves
            ("N. Newton", "newcity", "n@x.org", "Lowland Archive",
             "2019-02-01", "Ambleton", "Loamshire", "Pro",
             "2019-02-01", "2019-02-01"),
            # ghyll: city named only by the NULL-county institution row
            # (never landed) and with NULL county here too -> city_id NULL
            ("G. Ghyll", "ghyll", "g@x.org", "Hilltop Observatory",
             "2019-03-01", "Ghylldale", "", "Free",
             "2019-03-01", "2019-03-01"),
            # knownc: NEW city name under a county that already exists
            # from the institutions batch -> users-batch city insert
            # parented by the existing county
            ("K. Knowles", "knownc", "k@x.org", "Canalside Labs",
             "2019-04-01", "Newtown", "West Yorkshire", "HiveMind",
             "2019-04-01", "2019-04-01"),
        ],
    )

    rows = [
        # p1: of marsfan's two same-start county-fanned slices the
        # county order end-dates Cumbria degenerately (end < start), so
        # the open West Yorkshire slice is the only p1
        _obs_row("Marsfan M.", "apis mellifera", "prunella vulgaris",
                 year="2019", month="6", day="15"),
        # predates marsfan's first affiliation: BOTH slices share the
        # earliest start -> both p3 -> the county leg picks Cumbria
        _obs_row("Marsfan M.", "bombus terrestris", "trifolium repens",
                 year="2018", month="5", day="1", habitat="meadow"),
        # plain attributions through the users-batch-geography users
        _obs_row("Newton N.", "apis mellifera", "prunella vulgaris",
                 year="2019", month="7", day="2", lat="51.5", lon="-0.1"),
        _obs_row("Ghyll G.", "bombus terrestris", "prunella vulgaris",
                 year="2019", month="8", day="3"),
        _obs_row("Knowles K.", "apis mellifera", "trifolium repens",
                 year="2019", month="9", day="4"),
        # NULL date -> p2 open-ended interval for the fanned user
        _obs_row("Marsfan M.", "apis mellifera", "trifolium repens",
                 year="NA", month="NA", day="NA"),
    ]
    write_csv(d / "observations.csv", OBS_HEADER, rows)
    return d
