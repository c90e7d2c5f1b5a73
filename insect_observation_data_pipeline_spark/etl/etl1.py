"""ETL1: raw CSV staging -> validated, normalized silver (OLTP-shaped).

Rebuilds /root/reference/03_sql/02_etl_csv_to_oltp/ (3 sequential scripts)
as pure DataFrame -> DataFrame functions. Differences from the reference
are *mechanical*, never semantic:

- insert-if-absent (NOT IN / NOT EXISTS anti-join ladders) becomes
  recompute-from-full-input + dropDuplicates — idempotent by construction
  (M1 in SURVEY §2i);
- the two-phase SCD2 "insert then UPDATE previous end_date" becomes a
  single lead() window (M3/W1);
- validate-append-then-DELETE quarantine becomes one-pass tagged split
  (S8/J7, see operators.quarantine);
- SERIAL surrogate keys become xxhash64(entity, business key) — per-row,
  shuffle-free, deterministic, reproducible across runs and cluster sizes
  (SURVEY §4 point 3; functions/keys.py). No dense 1..N contract: every
  FK below is propagated by business-key join, never key arithmetic.

Semantic guardrails preserved: observations are APPEND-ONLY and full
duplicates are legal (re-ingest doubles them by design, README.md:19);
missing month -> January-1 placeholder; observations predating a user's
first affiliation attach to the earliest one.

Materialization: ``load_institutions``, ``load_users`` and part 3's
staging half, ``stage_observations``, take a keyword-only
``materialize`` callable and apply it to every frame that two or more
later frames read (the geography chain, institutions, the cleaned
staging rows, ``users``, the observation lookups). The default is the
identity, so the functions stay pure and lazy for tests and plan
inspection; the runner passes an eager ``localCheckpoint`` so each
shared intermediate is computed once, where it is built, instead of
once per reading frame.

Scale notes: lookups/dims are tiny (broadcast); the only big-data paths
are the staging scan, the quarantine split (one pass), and the
observation->user attribution join (small build side, broadcast). The
author substring match is a BroadcastNestedLoopJoin against ~tens of
users — bounded work per staging row.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from insect_observation_data_pipeline_spark.functions.dates import build_observation_date
from insect_observation_data_pipeline_spark.functions.keys import with_hash_sk
from insect_observation_data_pipeline_spark.functions.text import (
    boolean_literal,
    normalize_na,
    parse_first_name,
    parse_last_name,
    species_case,
)
from insect_observation_data_pipeline_spark.operators import (
    Rule,
    distinct_on,
    scd2_end_date,
    split_valid_invalid,
)
from insect_observation_data_pipeline_spark.sources.seed import (
    SUBSCRIPTION_TYPES,
    pollination_qualities,
)

# raw CSV layouts (FIXTURES.md §1-3; staging DDL 02_ETL1_part1.sql:7-12,
# 03_ETL1_part2.sql:6-18, 04_ETL1_part3.sql:9-40)
INSTITUTIONS_COLS = ["institution", "city", "county"]
USERS_COLS = [
    "full_name",
    "username",
    "email",
    "institution",
    "affiliation_start",
    "city",
    "county",
    "subscription_type",
    "subscription_start",
    "join_date",
]
OBSERVATIONS_COLS = [
    "authors", "title", "journal", "pub_year", "pub_vol", "doi",
    "methodology", "pollinator_survey", "plant_survey",
    "nbn_pollinator_code", "col_pollinator_code", "pollinator_species",
    "caste", "nbn_plant_code", "col_plant_code", "plant_species",
    "interactions", "date", "month", "year", "grid_letter", "grid_code",
    "latitude", "longitude", "habitat", "pollination", "pollen", "nectar",
    "record", "articleurl",
]
#: the 16 retained observation columns (04_ETL1_part3.sql:79-114)
OBS_KEPT = [
    "authors", "nbn_pollinator_code", "pollinator_species", "caste",
    "nbn_plant_code", "plant_species", "interactions", "date", "month",
    "year", "latitude", "longitude", "habitat", "pollination", "pollen",
    "nectar",
]

_NUM = r"^-?\d+(\.\d+)?$"


def _sk(df: DataFrame, name: str, business_cols: list[str]) -> DataFrame:
    """Deterministic surrogate key (SERIAL replacement): xxhash64 of the
    business key — per-row, shuffle-free, no global window (see
    functions/keys.py for the scale rationale)."""
    return with_hash_sk(df, name, business_cols)


#: pins a shared intermediate frame (see the module docstring)
Materialize = Callable[[DataFrame], DataFrame]


def _lazy(df: DataFrame) -> DataFrame:
    return df


@dataclass
class Etl1Result:
    silver: dict[str, DataFrame] = field(default_factory=dict)
    quarantine: dict[str, DataFrame] = field(default_factory=dict)


@dataclass
class StagedObservations(Etl1Result):
    """Part 3's staging half: the lookups (silver) and the observation
    quarantine, plus the repaired rule-passing rows the attribution half
    reads."""

    valid: DataFrame | None = None


# ---------------------------------------------------------------------------
# part 1: institutions (02_ETL1_part1.sql)
# ---------------------------------------------------------------------------


def load_institutions(
    staging: DataFrame, *, materialize: Materialize = _lazy
) -> Etl1Result:
    """Staging (institution, city, county, country) -> geography chain +
    institutions. Reference: 02_ETL1_part1.sql:30-79."""
    rules = [
        Rule(
            F.col("institution").isNull() | (F.trim("institution") == ""),
            "Missing institution name.",
        )
    ]
    valid, invalid = split_valid_invalid(staging, rules)
    valid = valid.select(
        F.trim("institution").alias("institution_name"),
        normalize_na(F.col("city")).alias("city_name"),
        normalize_na(F.col("county")).alias("county_name"),
        F.trim("country").alias("country_name"),
    )

    countries = materialize(_sk(
        valid.filter(F.col("country_name").isNotNull())
        .select("country_name")
        .distinct(),
        "country_id",
        ["country_name"],
    ))
    counties = materialize(_sk(
        valid.filter(F.col("county_name").isNotNull())
        .select("county_name", "country_name")
        .distinct(),
        "county_id",
        ["county_name", "country_name"],
    ).join(F.broadcast(countries), "country_name").select(
        "county_id", "county_name", "country_id"
    ))
    # cities INNER-join counties BY NAME (02_ETL1_part1.sql:57-64,
    # round-15 parity): a staging city whose county is NULL (or names no
    # county) never lands — the old left join kept (city, NULL county)
    # rows the reference never inserts. Joining the counties TABLE on
    # bare name also reproduces the reference's fan-out: one county name
    # under two countries yields one city row per county row. The
    # surrogate therefore hashes the joined county_id, not the raw
    # county string.
    cities = materialize(_sk(
        valid.filter(F.col("city_name").isNotNull())
        .select("city_name", "county_name")
        .distinct()
        .join(
            F.broadcast(counties.select("county_id", "county_name")),
            "county_name",
        )
        .select("city_name", "county_id"),
        "city_id",
        ["city_name", "county_id"],
    ).select("city_id", "city_name", "county_id"))

    # institutions dedup AFTER the city join, on (name, city_id) — the
    # reference's SELECT DISTINCT stg.institution, cit.city_id FROM stg
    # LEFT JOIN cities ON city name (02_ETL1_part1.sql:69-78,
    # round-15 parity): two staging rows whose cities both resolve to
    # NULL collapse into ONE institution row, and one city NAME under
    # two counties fans one staging row into two institution rows with
    # DISTINCT ids (the old (name, city_name) hash minted the same id
    # for both — the duplicate-institution_id hazard).
    institutions = _sk(
        valid.select("institution_name", "city_name")
        # the reference's insert filters stg.institution NOT IN (SELECT
        # institution_name FROM institutions) against a table PRE-SEEDED
        # with 'Unaffiliated' (01_create_oltp.sql:148-150), so a CSV row
        # named exactly 'Unaffiliated' never inserts — one row (the
        # seed), not two (round-15 review: the old union minted a
        # second, hash-id row for it)
        .filter(F.col("institution_name") != "Unaffiliated")
        .join(F.broadcast(cities.select("city_id", "city_name")), "city_name", "left")
        .select("institution_name", "city_id")
        .distinct(),
        "institution_id",
        ["institution_name", "city_id"],
    ).select("institution_id", "institution_name", "city_id")
    # seeded 'Unaffiliated' institution (01_create_oltp.sql:148-150)
    spark = staging.sparkSession
    unaff = spark.createDataFrame(
        [("Unaffiliated",)], "institution_name string"
    ).select(
        F.lit(0).cast("long").alias("institution_id"),
        "institution_name",
        F.lit(None).cast("long").alias("city_id"),
    )
    institutions = materialize(institutions.unionByName(unaff))

    return Etl1Result(
        silver={
            "countries": countries,
            "counties": counties,
            "cities": cities,
            "institutions": institutions,
        },
        quarantine={"invalid_institutions": invalid},
    )


# ---------------------------------------------------------------------------
# part 2: users + SCD2 histories (03_ETL1_part2.sql)
# ---------------------------------------------------------------------------


def load_users(
    staging: DataFrame,
    geography: dict[str, DataFrame],
    *,
    materialize: Materialize = _lazy,
) -> Etl1Result:
    """Staging users -> users (now with city_id), user_institution (SCD2),
    user_subscription (SCD2), PLUS the users-batch geography additions.
    Reference: 03_ETL1_part2.sql:54-246.

    ``geography`` is part 1's silver dict (countries, counties, cities,
    institutions). The reference's part-2 script ALSO inserts
    countries/counties/cities from the users CSV — insert-if-absent by
    bare NAME against the table state left by the institutions batch
    (03_ETL1_part2.sql:76-107) — and stores each user's ``city_id``
    resolved by a LEFT JOIN on city name (:108-127). The returned silver
    dict therefore carries the UPDATED countries/counties/cities frames
    (batch-1 rows plus users-batch additions); the runner's dict merge
    replaces part 1's versions with these.

    Institution identity: (institution_name, city_id), where a city's own
    identity is (city_name, county). Every ordering that must break ties
    between same-named institutions does so on the business chain
    (name, city_name, county_name) — replayable by any engine — with the
    engine-local hash id only as a last-resort leg for the degenerate
    duplicate-(name, city, county) shape (round-13 policy, extended to
    county grain in round 15)."""
    institutions = geography["institutions"]
    countries = geography["countries"]
    counties = geography["counties"]
    cities = geography["cities"]
    required = [
        "full_name", "username", "email", "institution",
        "affiliation_start", "subscription_type", "subscription_start",
        "join_date",
    ]
    rules = [
        Rule(F.col(c).isNull() | (F.trim(c) == ""), f"Missing required field: {c}.")
        for c in required
    ] + [
        Rule(F.try_to_date(c, "yyyy-MM-dd").isNull(), f"Unparseable date: {c}.")
        for c in ["affiliation_start", "subscription_start", "join_date"]
    ]
    valid, invalid = split_valid_invalid(staging, rules)
    # the reference deletes EVERY staging row sharing a username with
    # any invalid row (03_ETL1_part2.sql:72-74), so a user with one bad
    # row never half-exists (round-14 review: the per-row split kept the
    # valid twin and minted the user plus SCD2 intervals the reference
    # excludes). Anti-join on the quarantined usernames — raw values,
    # exactly the reference's IN-subquery; the tiny invalid side
    # broadcasts.
    valid = valid.join(
        F.broadcast(invalid.select("username").distinct()),
        "username",
        "left_anti",
    )
    # the reference's stg_users DDL defaults country to 'United Kingdom'
    # (03_ETL1_part2.sql:17) and the CSV COPY never lists the column, so
    # every row carries the default; a staging frame that does carry an
    # explicit country column (the runner adds the same constant via
    # read_csv_staging defaults) is used as-is.
    country_col = (
        F.trim("country") if "country" in staging.columns
        else F.lit("United Kingdom")
    )
    valid = materialize(valid.select(
        F.trim("full_name").alias("full_name"),
        F.trim("username").alias("username"),
        F.trim("email").alias("email"),
        F.trim("institution").alias("institution_name"),
        F.try_to_date("affiliation_start", "yyyy-MM-dd").alias("affiliation_start"),
        normalize_na(F.col("city")).alias("city_name"),
        normalize_na(F.col("county")).alias("county_name"),
        country_col.alias("country_name"),
        F.trim("subscription_type").alias("subscription_type_name"),
        F.try_to_date("subscription_start", "yyyy-MM-dd").alias("subscription_start"),
        F.try_to_date("join_date", "yyyy-MM-dd").alias("join_date"),
    ))

    # users-batch geography: insert-if-absent by bare NAME against the
    # institutions-batch tables (03_ETL1_part2.sql:76-107, round-15
    # parity). A county/city name already present — even under a
    # DIFFERENT parent — is never re-inserted; only genuinely new names
    # land, parented by the full (both-batch) country/county tables.
    new_countries = _sk(
        valid.filter(F.col("country_name").isNotNull())
        .select("country_name")
        .distinct()
        .join(F.broadcast(countries.select("country_name")), "country_name", "left_anti"),
        "country_id",
        ["country_name"],
    )
    countries_full = materialize(countries.unionByName(new_countries))
    new_counties = _sk(
        valid.filter(F.col("county_name").isNotNull())
        .select("county_name", "country_name")
        .distinct()
        .join(F.broadcast(counties.select("county_name")), "county_name", "left_anti"),
        "county_id",
        ["county_name", "country_name"],
    ).join(F.broadcast(countries_full), "country_name").select(
        "county_id", "county_name", "country_id"
    )
    counties_full = materialize(counties.unionByName(new_counties))
    new_cities = _sk(
        valid.filter(F.col("city_name").isNotNull())
        .select("city_name", "county_name")
        .distinct()
        .join(F.broadcast(cities.select("city_name")), "city_name", "left_anti")
        .join(
            # INNER by name, as in part 1: NULL/unknown county -> no city
            F.broadcast(counties_full.select("county_id", "county_name")),
            "county_name",
        )
        .select("city_name", "county_id"),
        "city_id",
        ["city_name", "county_id"],
    ).select("city_id", "city_name", "county_id")
    cities_full = materialize(cities.unionByName(new_cities))

    # city lookup with its business identity chain (county, country) —
    # the deterministic-ordering legs wherever a bare city NAME is
    # ambiguous across counties
    city_lkp = materialize(
        cities_full.join(
            F.broadcast(
                counties_full.select(
                    "county_id", F.col("county_name").alias("city_county_name"),
                    "country_id",
                )
            ),
            "county_id",
        )
        .join(
            F.broadcast(
                countries_full.select(
                    "country_id", F.col("country_name").alias("city_country_name")
                )
            ),
            "country_id",
        )
        .select("city_id", "city_name", "city_county_name", "city_country_name")
    )

    # users: first row per username by join_date (DISTINCT ON,
    # 03_ETL1_part2.sql:108-127) with deterministic tiebreaks; the row's
    # city resolves via LEFT JOIN on city name (:125), so the city legs
    # extend the order — a city name under two counties must pick the
    # same county in every engine.
    first = distinct_on(
        valid.join(F.broadcast(city_lkp), "city_name", "left"),
        ["username"],
        [
            F.col("join_date").asc(),
            F.col("email").asc(),
            F.col("full_name").asc(),
            F.col("city_name").asc_nulls_last(),
            F.col("city_county_name").asc_nulls_last(),
            F.col("city_country_name").asc_nulls_last(),
        ],
    )
    users = materialize(_sk(
        first.select(
            "username",
            parse_first_name(F.col("full_name")).alias("first_name"),
            parse_last_name(F.col("full_name")).alias("last_name"),
            "email",
            "city_id",
            "join_date",
        ),
        "user_id",
        ["username"],
    ))

    # SCD2: one interval per (user, institution, start); end-date = next
    # start - 1 day via lead() (03_ETL1_part2.sql:137-188). Round-12
    # review, matching the reference exactly (03_ETL1_part2.sql:191-211):
    # - institutions joins INNER (the reference's plain JOIN) and BEFORE
    #   the dedup — an affiliation naming an unknown institution gets NO
    #   interval (the old left join minted a NULL-institution interval
    #   the reference never inserts, shifting end-date chains and
    #   attribution);
    # - the dedup key is (user, INSTITUTION, start) — same-named
    #   institutions in different cities each keep their interval, and a
    #   user joining two institutions on one date keeps both (the old
    #   (user, start) key silently dropped one);
    # - the surrogate key therefore hashes institution_id too (the old
    #   (user_id, start_date) hash minted DUPLICATE user_institution_id
    #   values on the name fan-out, and etl2's attribution join then
    #   double-counted those observations in the user facts).
    inst_dim = (
        institutions.select("institution_id", "institution_name", "city_id")
        .join(F.broadcast(city_lkp), "city_id", "left")
        .select(
            "institution_id", "institution_name", "city_name",
            F.col("city_county_name").alias("county_name"),
            F.col("city_country_name").alias("country_name"),
        )
    )
    aff = distinct_on(
        valid.select("username", "institution_name", "affiliation_start").join(
            F.broadcast(inst_dim),
            "institution_name",
        ),
        ["username", "institution_id", "affiliation_start"],
        [F.col("institution_name").asc()],
    )
    # tiebreak: the institution's BUSINESS identity chain (name, city,
    # county, country) — two same-named institutions give a user two
    # rows tied on (username, start, name), and without a total order
    # the lead() end-date chain flips per shuffle (round-12 follow-up
    # review). With round-15's name-keyed city identity one institution
    # NAME + city NAME can even pair with two COUNTIES (the reference's
    # city-name fan-out), so the county/country legs extend the order.
    # Ordering on business names instead of the engine-local hash id
    # makes the pick replayable by any engine (the DuckDB e2e oracle
    # orders the same way); institution_id stays as a pure-safety last
    # leg — a duplicate (name, city, county, country) tuple is
    # impossible by construction, including the historical
    # 'Unaffiliated' seed collision, which the reference's NOT-IN
    # insert gate removes (round-15 review; pinned by
    # tests/test_etl_pipeline.py::
    # test_user_institution_duplicate_name_city_tiebreak).
    user_institution = scd2_end_date(
        aff.withColumnRenamed("affiliation_start", "start_date"),
        ["username"],
        "start_date",
        order_tiebreak=[
            F.col("institution_name").asc(),
            F.col("city_name").asc_nulls_last(),
            F.col("county_name").asc_nulls_last(),
            F.col("country_name").asc_nulls_last(),
            F.col("institution_id").asc(),
        ],
    ).join(F.broadcast(users.select("user_id", "username")), "username")
    user_institution = _sk(
        user_institution.select(
            "user_id", "institution_id", "institution_name", "city_name",
            "county_name", "country_name", "start_date", "end_date",
        ),
        "user_institution_id",
        ["user_id", "institution_id", "start_date"],
    )

    # Subscriptions mirror the reference's insert exactly
    # (03_ETL1_part2.sql:137-156, round-13 parity fix):
    # - INNER join to the five SEEDED subscription_types (an unknown type
    #   gets NO interval — the user row itself still lands in users);
    #   the seed is a static literal list, so the join is an isin()
    #   filter, not a shuffle;
    # - dedup grain is (user, TYPE, start) — a user starting two types on
    #   one date keeps BOTH intervals (DISTINCT ON (user_id,
    #   subscription_type_id, start_date)); the old (user, start) grain
    #   silently dropped one;
    # - the type therefore joins the end-date tiebreak and the surrogate
    #   hash (the (user_id, start_date) hash would mint duplicate ids on
    #   the keeps-both shape).
    subs = (
        valid.filter(
            F.col("subscription_type_name").isin(
                [t[0] for t in SUBSCRIPTION_TYPES]
            )
        )
        .select("username", "subscription_type_name", "subscription_start")
        .distinct()
    )
    user_subscription = scd2_end_date(
        subs.withColumnRenamed("subscription_start", "start_date"),
        ["username"],
        "start_date",
        order_tiebreak=[F.col("subscription_type_name").asc()],
    ).join(F.broadcast(users.select("user_id", "username")), "username")
    user_subscription = _sk(
        user_subscription.select(
            "user_id", "subscription_type_name", "start_date", "end_date"
        ),
        "user_subscription_id",
        ["user_id", "subscription_type_name", "start_date"],
    )

    return Etl1Result(
        silver={
            "users": users,
            "user_institution": user_institution,
            "user_subscription": user_subscription,
            # users-batch geography additions folded in: these replace
            # part 1's frames in the runner's silver merge
            "countries": countries_full,
            "counties": counties_full,
            "cities": cities_full,
        },
        quarantine={"invalid_users": invalid},
    )


# ---------------------------------------------------------------------------
# part 3: observations (04_ETL1_part3.sql)
# ---------------------------------------------------------------------------

#: NBN-code canonicalization by species name (04_ETL1_part3.sql:240-290).
#: Round-14 review (reference parity): the reference canonicalizes SIX
#: pollinator species unconditionally (matched case-insensitively —
#: its predicates are LOWER(species) = LOWER('...')), and its one PLANT
#: repair applies only where the OLD code is the known-bad
#: 'NHMSYS0000462067'. The previous table carried a wrong Apis code
#: (…385 for the reference's …423), an unconditional plant repair with
#: a wrong target (…4312 for …4225), and missed five species — the
#: DuckDB replay oracle had mirrored the same wrong constants, which is
#: exactly why the hash gate could not catch it.
NBN_REPAIRS_POLLINATOR = {
    "apis mellifera": "NHMSYS0000875423",
    "andrena flavipes": "NHMSYS0000875202",
    "andrena haemorrhoa": "NHMSYS0000875215",
    "andrena cineraria": "NHMSYS0000875177",
    "andrena scotica": "NHMSYS0000875268",
    "melanostoma mellinum": "NBNSYS0000006866",
}
#: plant repair: (lowercase species, required OLD code, replacement)
NBN_REPAIR_PLANT = ("prunella vulgaris", "NHMSYS0000462067", "NBNSYS0000004225")


def observation_rules() -> list[Rule]:
    """Quarantine predicate families (04_ETL1_part3.sql:158-235); order =
    reference script order (first failing family names the error)."""
    lat = F.col("latitude")
    lon = F.col("longitude")
    return [
        Rule(F.col("authors").isNull(), "Missing authors."),
        Rule(F.col("pollinator_species").isNull(), "Missing pollinator species."),
        Rule(F.col("plant_species").isNull(), "Missing plant species."),
        Rule(
            F.col("interactions").isNotNull() & ~F.col("interactions").rlike(r"^\d+$"),
            "Invalid interactions value.",
        ),
        Rule(
            F.col("date").isNotNull()
            & (
                ~F.col("date").rlike(r"^\d{1,2}$")
                | ~F.col("date").try_cast("int").between(1, 31)
            ),
            "Invalid day of month.",
        ),
        Rule(
            F.col("month").isNotNull()
            & (
                ~F.col("month").rlike(r"^\d{1,2}$")
                | ~F.col("month").try_cast("int").between(1, 12)
            ),
            "Invalid month.",
        ),
        Rule(
            F.col("year").isNotNull()
            & (
                ~F.col("year").rlike(r"^\d{4}$")
                | ~F.col("year").try_cast("int").between(1800, 2100)
            ),
            "Invalid year.",
        ),
        # The range casts are decimal(38,18), NOT the stored (9,6) width
        # (round-12 review): the reference compares an UNBOUNDED Postgres
        # DECIMAL (04_ETL1_part3.sql:183-190), while try_cast(9,6)
        # returns NULL on overflow and a three-valued-logic hole then
        # classified e.g. latitude='1000.0' as VALID (NULL predicate
        # never fires) — a phantom silver row the reference quarantines.
        # A regex-passing value that still overflows (38,18) (20+ integer
        # digits) is certainly out of range, so a NULL cast is itself a
        # violation.
        Rule(
            lat.isNotNull()
            & (
                ~lat.rlike(_NUM)
                | lat.try_cast("decimal(38,18)").isNull()
                | ~lat.try_cast("decimal(38,18)").between(-90, 90)
            ),
            "Invalid latitude.",
        ),
        Rule(
            lon.isNotNull()
            & (
                ~lon.rlike(_NUM)
                | lon.try_cast("decimal(38,18)").isNull()
                | ~lon.try_cast("decimal(38,18)").between(-180, 180)
            ),
            "Invalid longitude.",
        ),
        Rule(
            F.col("pollination").isNotNull() & ~F.col("pollination").rlike(r"^[1-4]$"),
            "Invalid pollination quality.",
        ),
        Rule(
            F.col("pollen").isNotNull() & ~F.upper("pollen").isin("Y", "N"),
            "Invalid pollen flag.",
        ),
        Rule(
            F.col("nectar").isNotNull() & ~F.upper("nectar").isin("Y", "N"),
            "Invalid nectar flag.",
        ),
    ]


def _repair_codes(df: DataFrame) -> DataFrame:
    """Manual data repairs (P6): uppercase NBN codes + per-species
    canonicalization (04_ETL1_part3.sql:240-290).

    Each pollinator UPDATE in the reference is gated by
    ``nbn_pollinator_code != '<new>'``, which never fires on NULL codes
    (NULL != x is NULL) — so a NULL code stays NULL.  Since SET-to-equal
    is a no-op, that gate reduces to IS NOT NULL."""
    df = df.withColumn("nbn_pollinator_code", F.upper("nbn_pollinator_code"))
    df = df.withColumn("nbn_plant_code", F.upper("nbn_plant_code"))
    for species, code in NBN_REPAIRS_POLLINATOR.items():
        df = df.withColumn(
            "nbn_pollinator_code",
            F.when(
                F.col("nbn_pollinator_code").isNotNull()
                & (F.lower("pollinator_species") == species),
                F.lit(code),
            ).otherwise(F.col("nbn_pollinator_code")),
        )
    p_species, p_old, p_new = NBN_REPAIR_PLANT
    df = df.withColumn(
        "nbn_plant_code",
        F.when(
            (F.lower("plant_species") == p_species)
            & (F.col("nbn_plant_code") == p_old),
            F.lit(p_new),
        ).otherwise(F.col("nbn_plant_code")),
    )
    return df


def load_observations(
    staging: DataFrame,
    users: DataFrame,
    user_institution: DataFrame,
) -> Etl1Result:
    """Staging observations -> lookups + append-only observations: the
    staging half composed with the attribution half.

    Reference: 04_ETL1_part3.sql:117-454. ``staging`` must carry a
    ``raw_data_id`` column (the driver adds one at ingest).
    """
    return attribute_observations(
        stage_observations(staging), users, user_institution
    )


def stage_observations(
    staging: DataFrame, *, materialize: Materialize = _lazy
) -> StagedObservations:
    """Part 3's staging half: quarantine split, repairs and the lookups
    (04_ETL1_part3.sql:117-369). Reads only ``staging``, so it can run
    before the users exist."""
    kept = staging.select("raw_data_id", *[normalize_na(F.col(c)).alias(c) for c in OBS_KEPT])
    valid, invalid = split_valid_invalid(kept, observation_rules())
    valid = materialize(_repair_codes(
        valid.withColumn("pollinator_species", species_case(F.col("pollinator_species")))
        .withColumn("plant_species", species_case(F.col("plant_species")))
        .withColumn("habitat", F.initcap("habitat"))
        .withColumn("caste", F.trim("caste"))
    ))

    # lookups, insert-if-absent -> recompute distinct + dense sk
    pollinators = materialize(_sk(
        distinct_on(
            valid.select(
                F.col("pollinator_species").alias("species_name"),
                F.col("nbn_pollinator_code").alias("nbn_code"),
            ),
            ["species_name"],
            [F.col("nbn_code").asc_nulls_last()],
        ),
        "pollinator_id",
        ["species_name"],
    ))
    plants = materialize(_sk(
        distinct_on(
            valid.select(
                F.col("plant_species").alias("species_name"),
                F.col("nbn_plant_code").alias("nbn_code"),
            ),
            ["species_name"],
            [F.col("nbn_code").asc_nulls_last()],
        ),
        "plant_id",
        ["species_name"],
    ))
    castes = materialize(_sk(
        valid.filter(F.col("caste").isNotNull())
        .select(F.col("caste").alias("caste_name"))
        .distinct(),
        "caste_id",
        ["caste_name"],
    ))
    habitats = materialize(_sk(
        valid.filter(F.col("habitat").isNotNull())
        .select(F.col("habitat").alias("habitat_name"))
        .distinct(),
        "habitat_id",
        ["habitat_name"],
    ))
    locations = materialize(_sk(
        valid.filter(F.col("latitude").isNotNull() & F.col("longitude").isNotNull())
        .select(
            F.col("latitude").cast("decimal(9,6)").alias("latitude"),
            F.col("longitude").cast("decimal(9,6)").alias("longitude"),
        )
        .distinct(),
        "location_id",
        ["latitude", "longitude"],
    ))

    return StagedObservations(
        silver={
            "pollination_qualities": pollination_qualities(staging.sparkSession),
            "pollinator_species": pollinators,
            "plant_species": plants,
            "castes": castes,
            "habitats": habitats,
            "locations": locations,
        },
        quarantine={"invalid_observations": invalid},
        valid=valid,
    )


def attribute_observations(
    staged: StagedObservations,
    users: DataFrame,
    user_institution: DataFrame,
) -> Etl1Result:
    """Part 3's attribution half: author -> user join, affiliation
    priority pick and the lookup FK joins (04_ETL1_part3.sql:370-454).
    Returns the staging half's tables plus ``observations``."""
    valid = staged.valid
    pollinators = staged.silver["pollinator_species"]
    plants = staged.silver["plant_species"]
    castes = staged.silver["castes"]
    habitats = staged.silver["habitats"]
    locations = staged.silver["locations"]

    # observation date with January placeholder (04_ETL1_part3.sql:370-388)
    dated = valid.withColumn(
        "observation_date",
        build_observation_date(
            F.col("year").cast("int"), F.col("month").cast("int"), F.col("date").cast("int")
        ),
    )

    # author -> user attribution: substring theta-join (J8,
    # 04_ETL1_part3.sql:390-395) then affiliation priority pick (J11,
    # :396-416). Candidates = every (user x affiliation interval).
    cand = (
        users.select("user_id", "username", "last_name")
        .join(user_institution, "user_id")
        .select(
            "user_id",
            "username",
            "last_name",
            "user_institution_id",
            "institution_name",
            "city_name",
            "county_name",
            "country_name",
            "start_date",
            "end_date",
        )
    )
    # INNER, not left (round-14 review, reference parity): the reference
    # builds stg_with_user with JOIN users and then JOIN
    # user_institution (04_ETL1_part3.sql:390-416) — an observation
    # whose authors match no user, or whose only matched users carry no
    # affiliation interval, is NEVER INSERTED (observations.
    # user_institution_id is NOT NULL in 01_create_oltp.sql). The old
    # left join + priority 9 kept such rows with a NULL attribution,
    # inflating every downstream rollup relative to the reference; the
    # replay oracle mirrors the inner join in lockstep.
    matched = dated.join(
        F.broadcast(cand),
        F.lower(F.col("authors")).contains(F.lower(F.col("last_name"))),
    )
    first_start = F.min("start_date").over(
        Window.partitionBy("raw_data_id", "user_id")
    )
    prio = (
        F.when(
            F.col("observation_date").isNotNull()
            & (F.col("observation_date") >= F.col("start_date"))
            & (F.col("end_date").isNull() | (F.col("observation_date") <= F.col("end_date"))),
            F.lit(1),
        )
        .when(
            F.col("observation_date").isNull() & F.col("end_date").isNull(), F.lit(2)
        )
        .when(
            F.col("observation_date").isNotNull()
            & (F.col("observation_date") < first_start)
            & (F.col("start_date") == first_start),
            F.lit(3),
        )
        .otherwise(F.lit(4))
    )
    # tiebreak on business keys (username, then institution_name), not
    # surrogate ids: hash values are engine-local, so ordering by them
    # would make the pick irreproducible in any cross-engine replay
    # (the DuckDB e2e oracle). institution_name joined the order in
    # round 12: the keeps-both dedup can give a user two same-dated
    # intervals at different institutions, and without it the
    # row_number pick between their identical (prio, start, username)
    # triples was nondeterministic.
    w = Window.partitionBy("raw_data_id").orderBy(
        F.col("__prio").asc(),
        F.col("start_date").asc_nulls_last(),
        F.col("username").asc_nulls_last(),
        F.col("institution_name").asc_nulls_last(),
        # (name, city, county, country) is the institution's business
        # identity chain: same-named institutions in two cities — or,
        # after round-15's name-keyed city identity, one city NAME in
        # two counties (or countries) — tie on everything above, and
        # the city/county/country legs keep the pick replayable by any
        # engine (the DuckDB e2e oracle orders identically). The hash
        # id is a pure-safety last leg: no reachable shape ties through
        # country (the 'Unaffiliated' seed collision is gated off by
        # the reference's NOT-IN insert, below).
        F.col("city_name").asc_nulls_last(),
        F.col("county_name").asc_nulls_last(),
        F.col("country_name").asc_nulls_last(),
        F.col("user_institution_id").asc_nulls_last(),
    )
    attributed = (
        matched.withColumn("__prio", prio)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop(
            "__prio", "__rn", "username", "last_name", "institution_name",
            "city_name", "county_name", "country_name", "start_date",
            "end_date",
        )
    )

    observations = (
        attributed.join(
            F.broadcast(pollinators.select(
                F.col("species_name").alias("pollinator_species"),
                "pollinator_id",
            )),
            "pollinator_species",
        )
        .join(
            F.broadcast(plants.select(
                F.col("species_name").alias("plant_species"), "plant_id"
            )),
            "plant_species",
        )
        .join(
            F.broadcast(castes.select(F.col("caste_name").alias("caste"), "caste_id")),
            "caste",
            "left",
        )
        .join(
            F.broadcast(
                habitats.select(F.col("habitat_name").alias("habitat"), "habitat_id")
            ),
            "habitat",
            "left",
        )
        .join(
            F.broadcast(locations.select(
                "location_id",
                F.col("latitude").alias("lat_d"),
                F.col("longitude").alias("lon_d"),
            )),
            (F.col("latitude").cast("decimal(9,6)") == F.col("lat_d"))
            & (F.col("longitude").cast("decimal(9,6)") == F.col("lon_d")),
            "left",
        )
        .select(
            F.col("raw_data_id").alias("observation_id"),
            "user_institution_id",
            "pollinator_id",
            "caste_id",
            "plant_id",
            "habitat_id",
            "location_id",
            "observation_date",
            F.col("interactions").cast("int").alias("interaction_count"),
            F.col("pollination").cast("smallint").alias("pollination_quality_id"),
            # single spelling of the reference's ::BOOLEAN cast
            # (04_ETL1_part3.sql:441-442) — the inline (upper == 'Y')
            # twin could drift from boolean_literal's literal set
            # (round-12 review); on the quarantine-restricted Y/N/NULL
            # domain they are identical
            boolean_literal(F.col("pollen")).alias("pollen_collected"),
            boolean_literal(F.col("nectar")).alias("nectar_collected"),
        )
    )

    return Etl1Result(
        silver={**staged.silver, "observations": observations},
        quarantine=staged.quarantine,
    )
