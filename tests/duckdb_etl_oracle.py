"""DuckDB replay of the FULL ETL1+ETL2 dataflow over the fixture CSVs.

Independent re-implementation of the reference pipeline
(/root/reference/03_sql/02_etl_csv_to_oltp/*.sql ->
04_etl_oltp_to_olap/*.sql) in DuckDB SQL, producing BUSINESS-KEYED views
of every silver and gold table. The parity test hash-compares these
against the Spark pipeline's output projected onto the same business
keys.

Why business keys, not surrogate keys: the engine's surrogate keys are
xxhash64(entity, business key) — deliberately engine-local (no global
row_number ordering; see functions/keys.py). Key VALUES are an
implementation detail; what the reference semantics pin down is the
referential structure, which the business-key projection captures
exactly (SK uniqueness and FK resolution are asserted separately in
test_surrogate_keys_unique_and_no_global_window).

Caveats that keep this oracle honest but fixture-scoped:
- initcap here is single-word (fixture habitats are single words).

Geography is reference-exact as of round 15 (02_ETL1_part1.sql:37-78,
03_ETL1_part2.sql:76-127): insert-if-absent by bare NAME across the
institutions-then-users batch order, cities INNER-join counties by name
(NULL-county cities never land; one city name under two counties fans),
institutions dedup AFTER their LEFT city join, and users carry a
city_id resolved by city-name LEFT JOIN.

Institution identity is ID-GRAIN throughout (round-13, extended to
county grain in round-15): the business identity of an institution is
(institution_name, city identity) where a city's own identity is
(city_name, county, country) — and every join and every ordering in the
attribution chain below carries the city AND county, so a same-named
institution in two cities — or one city NAME in two counties — flows
through this replay exactly as through the engine (two intervals, two
fact slices). No reachable shape ties past the country leg: a duplicate
(name, city, county, country) tuple is impossible by construction —
the one historical path, a raw CSV row colliding with the seeded
'Unaffiliated', is now gated off by the reference's NOT-IN insert
filter (round-15 review) — so the engine's last-resort hash-id leg is
pure safety, never semantics.

Subscriptions are TYPE-GRAIN (round-13, mirroring
03_ETL1_part2.sql:137-156): intervals exist only for the five seeded
types (inner join), dedup is (user, type, start), and ties on one date
keep both types.
"""

from __future__ import annotations

# the same order-insensitive value hash as the per-query oracle check
from tools.compare import table_hash  # noqa: F401

SQL = r"""
CREATE MACRO nna(x) AS
  CASE WHEN trim(x) = '' OR trim(x) = 'NA' THEN NULL ELSE trim(x) END;
CREATE MACRO spcase(x) AS
  upper(left(trim(x), 1)) || lower(substr(trim(x), 2));
CREATE MACRO initcap1(x) AS
  upper(left(trim(x), 1)) || lower(substr(trim(x), 2));

-- ============================== ETL1 part 1: institutions ================
CREATE VIEW stg_inst AS
  SELECT *, 'United Kingdom' AS country
  FROM read_csv('{d}/institutions.csv', header=true, all_varchar=true);

CREATE VIEW inst_valid AS
  SELECT trim(institution) AS institution_name,
         nna(city)   AS city_name,
         nna(county) AS county_name,
         trim(country) AS country_name
  FROM stg_inst
  WHERE NOT (institution IS NULL OR trim(institution) = '');

-- Geography, reference-exact (round-15 parity): part 1 inserts from the
-- institutions batch (02_ETL1_part1.sql:37-78), part 2 adds users-batch
-- rows insert-if-absent by bare NAME (03_ETL1_part2.sql:76-107). Within
-- a batch the INSERT's NOT-IN subquery sees only the PRE-statement
-- table, so one name under two parents lands twice; across batches a
-- name already present is never re-inserted. Cities INNER-join counties
-- BY NAME (a NULL-county city never lands, and one county name under
-- two countries fans the city); institutions dedup AFTER their LEFT
-- city join, on (name, city identity).
CREATE VIEW countries1 AS
  SELECT DISTINCT country_name FROM inst_valid
  WHERE country_name IS NOT NULL;

CREATE VIEW counties1 AS
  SELECT DISTINCT county_name, country_name
  FROM inst_valid
  WHERE county_name IS NOT NULL AND country_name IS NOT NULL;

CREATE VIEW cities1 AS
  SELECT DISTINCT v.city_name, c.county_name, c.country_name
  FROM inst_valid v JOIN counties1 c ON v.county_name = c.county_name
  WHERE v.city_name IS NOT NULL;

CREATE VIEW institutions_bk AS
  -- the reference filters stg.institution NOT IN (SELECT
  -- institution_name FROM institutions) against a table pre-seeded
  -- with 'Unaffiliated' (01_create_oltp.sql:148-150), so a CSV row by
  -- that exact name never inserts (round-15 review)
  SELECT DISTINCT v.institution_name, ci.city_name, ci.county_name,
         ci.country_name
  FROM inst_valid v LEFT JOIN cities1 ci ON v.city_name = ci.city_name
  WHERE v.institution_name <> 'Unaffiliated'
  UNION ALL
  SELECT 'Unaffiliated', NULL, NULL, NULL;

-- ============================== ETL1 part 2: users =======================
CREATE VIEW stg_users AS
  SELECT * FROM read_csv('{d}/users.csv', header=true, all_varchar=true);

CREATE VIEW users_tagged AS
  SELECT *,
    CASE
      WHEN full_name IS NULL OR trim(full_name) = ''
        THEN 'Missing required field: full_name.'
      WHEN username IS NULL OR trim(username) = ''
        THEN 'Missing required field: username.'
      WHEN email IS NULL OR trim(email) = ''
        THEN 'Missing required field: email.'
      WHEN institution IS NULL OR trim(institution) = ''
        THEN 'Missing required field: institution.'
      WHEN affiliation_start IS NULL OR trim(affiliation_start) = ''
        THEN 'Missing required field: affiliation_start.'
      WHEN subscription_type IS NULL OR trim(subscription_type) = ''
        THEN 'Missing required field: subscription_type.'
      WHEN subscription_start IS NULL OR trim(subscription_start) = ''
        THEN 'Missing required field: subscription_start.'
      WHEN join_date IS NULL OR trim(join_date) = ''
        THEN 'Missing required field: join_date.'
      WHEN try_strptime(trim(affiliation_start), '%Y-%m-%d') IS NULL
        THEN 'Unparseable date: affiliation_start.'
      WHEN try_strptime(trim(subscription_start), '%Y-%m-%d') IS NULL
        THEN 'Unparseable date: subscription_start.'
      WHEN try_strptime(trim(join_date), '%Y-%m-%d') IS NULL
        THEN 'Unparseable date: join_date.'
    END AS error_message
  FROM stg_users;

CREATE VIEW users_q_bk AS
  SELECT trim(username) AS username, error_message
  FROM users_tagged WHERE error_message IS NOT NULL;

CREATE VIEW users_valid AS
  SELECT trim(full_name) AS full_name,
         trim(username)  AS username,
         trim(email)     AS email,
         trim(institution) AS institution_name,
         try_strptime(trim(affiliation_start), '%Y-%m-%d')::DATE
           AS affiliation_start,
         nna(city) AS city_name,
         nna(county) AS county_name,
         -- reference stg_users DDL default (03_ETL1_part2.sql:17)
         'United Kingdom' AS country_name,
         trim(subscription_type) AS subscription_type_name,
         try_strptime(trim(subscription_start), '%Y-%m-%d')::DATE
           AS subscription_start,
         try_strptime(trim(join_date), '%Y-%m-%d')::DATE AS join_date
  FROM users_tagged WHERE error_message IS NULL
    -- reference 03_ETL1_part2.sql:72-74 deletes EVERY staging row
    -- sharing a username with any invalid row (round-14 parity); the
    -- IS NOT NULL guard keeps the NOT IN three-valued logic sane
    AND username NOT IN (
      SELECT username FROM users_tagged
      WHERE error_message IS NOT NULL AND username IS NOT NULL
    );

-- users-batch geography additions (03_ETL1_part2.sql:76-107):
-- insert-if-absent by bare NAME against the institutions-batch tables
CREATE VIEW countries2 AS
  SELECT DISTINCT country_name FROM users_valid
  WHERE country_name IS NOT NULL
    AND country_name NOT IN (SELECT country_name FROM countries1);
CREATE VIEW countries_bk AS
  SELECT * FROM countries1 UNION ALL SELECT * FROM countries2;

CREATE VIEW counties2 AS
  SELECT DISTINCT u.county_name, u.country_name FROM users_valid u
  WHERE u.county_name IS NOT NULL
    AND u.country_name IN (SELECT country_name FROM countries_bk)
    AND u.county_name NOT IN (SELECT county_name FROM counties1);
CREATE VIEW counties_bk AS
  SELECT * FROM counties1 UNION ALL SELECT * FROM counties2;

CREATE VIEW cities2 AS
  SELECT DISTINCT u.city_name, c.county_name, c.country_name
  FROM users_valid u JOIN counties_bk c ON u.county_name = c.county_name
  WHERE u.city_name IS NOT NULL
    AND u.city_name NOT IN (SELECT city_name FROM cities1);
CREATE VIEW cities_bk AS
  SELECT * FROM cities1 UNION ALL SELECT * FROM cities2;

-- users pick their first row by join_date; the row's city resolves by
-- LEFT JOIN on city name (03_ETL1_part2.sql:108-127) — the city legs
-- extend the deterministic order exactly as the engine's distinct_on
CREATE VIEW users_picked AS
  WITH ranked AS (
    SELECT u.*,
           ci.city_name AS u_city, ci.county_name AS u_city_county,
           ci.country_name AS u_city_country,
           row_number() OVER (
             PARTITION BY u.username
             ORDER BY u.join_date, u.email, u.full_name,
                      u.city_name ASC NULLS LAST,
                      ci.county_name ASC NULLS LAST,
                      ci.country_name ASC NULLS LAST
           ) AS rn
    FROM users_valid u
    LEFT JOIN cities_bk ci ON u.city_name = ci.city_name
  )
  SELECT * FROM ranked WHERE rn = 1;

CREATE VIEW users_bk AS
  SELECT username,
         CASE WHEN full_name LIKE '%.% %' THEN
           left(full_name,
                length(full_name) - position(' ' IN reverse(full_name)))
         END AS first_name,
         CASE WHEN full_name LIKE '%.% %' THEN
           reverse(split_part(reverse(full_name), ' ', 1))
         ELSE full_name END AS last_name,
         email, join_date,
         u_city AS city_name, u_city_county AS county_name
  FROM users_picked;

-- round-12 parity fix, mirroring the engine and the reference
-- (03_ETL1_part2.sql:191-211): INNER join to institutions BEFORE the
-- dedup (an unknown institution name gets NO interval), dedup per
-- (user, INSTITUTION, start) so a user joining two institutions on one
-- date keeps both; institution identity at business-key grain is
-- (name, city).
CREATE VIEW user_institution_bk AS
  WITH dd AS (
    SELECT DISTINCT u.username, i.institution_name, i.city_name,
           i.county_name, i.country_name,
           u.affiliation_start AS start_date
    FROM users_valid u
    JOIN institutions_bk i ON i.institution_name = u.institution_name
  )
  SELECT username, institution_name, city_name, county_name,
         country_name, start_date,
         lead(start_date) OVER (
           PARTITION BY username
           ORDER BY start_date, institution_name,
                    city_name ASC NULLS LAST,
                    county_name ASC NULLS LAST,
                    country_name ASC NULLS LAST
         ) - 1 AS end_date
  FROM dd;

-- round-13 parity (03_ETL1_part2.sql:137-156): intervals only for the
-- five SEEDED types (reference inner join), dedup (user, TYPE, start) —
-- two types starting one date keep both, and the end-date chain breaks
-- the tie on type_name exactly as the engine does.
CREATE VIEW user_subscription_bk AS
  WITH dd AS (
    SELECT DISTINCT username, subscription_type_name,
           subscription_start AS start_date
    FROM users_valid
    WHERE subscription_type_name IN ({types})
  )
  SELECT username, subscription_type_name, start_date,
         lead(start_date) OVER (
           PARTITION BY username
           ORDER BY start_date, subscription_type_name
         ) - 1 AS end_date
  FROM dd;

-- ============================== ETL1 part 3: observations ================
CREATE VIEW stg_obs AS
  SELECT row_number() OVER () AS rid,
         nna(authors) AS authors,
         nna(nbn_pollinator_code) AS nbn_pollinator_code,
         nna(pollinator_species) AS pollinator_species,
         nna(caste) AS caste,
         nna(nbn_plant_code) AS nbn_plant_code,
         nna(plant_species) AS plant_species,
         nna(interactions) AS interactions,
         nna("date") AS day_s,
         nna("month") AS month_s,
         nna("year") AS year_s,
         nna(latitude) AS latitude,
         nna(longitude) AS longitude,
         nna(habitat) AS habitat,
         nna(pollination) AS pollination,
         nna(pollen) AS pollen,
         nna(nectar) AS nectar
  FROM read_csv('{d}/observations.csv', header=true, all_varchar=true);

CREATE VIEW obs_tagged AS
  SELECT *,
    CASE
      WHEN authors IS NULL THEN 'Missing authors.'
      WHEN pollinator_species IS NULL THEN 'Missing pollinator species.'
      WHEN plant_species IS NULL THEN 'Missing plant species.'
      WHEN interactions IS NOT NULL
           AND NOT regexp_matches(interactions, '^\d+$')
        THEN 'Invalid interactions value.'
      WHEN day_s IS NOT NULL
           AND (NOT regexp_matches(day_s, '^\d{1,2}$')
                OR NOT (TRY_CAST(day_s AS INTEGER) BETWEEN 1 AND 31))
        THEN 'Invalid day of month.'
      WHEN month_s IS NOT NULL
           AND (NOT regexp_matches(month_s, '^\d{1,2}$')
                OR NOT (TRY_CAST(month_s AS INTEGER) BETWEEN 1 AND 12))
        THEN 'Invalid month.'
      WHEN year_s IS NOT NULL
           AND (NOT regexp_matches(year_s, '^\d{4}$')
                OR NOT (TRY_CAST(year_s AS INTEGER) BETWEEN 1800 AND 2100))
        THEN 'Invalid year.'
      -- decimal(38,18) + IS NULL arm mirror the engine (round-12: the
      -- reference compares an UNBOUNDED decimal, so an overflowing
      -- value like 1000.0 must quarantine, not NULL through the CASE)
      WHEN latitude IS NOT NULL
           AND (NOT regexp_matches(latitude, '^-?\d+(\.\d+)?$')
                OR TRY_CAST(latitude AS DECIMAL(38,18)) IS NULL
                OR NOT (TRY_CAST(latitude AS DECIMAL(38,18))
                        BETWEEN -90 AND 90))
        THEN 'Invalid latitude.'
      WHEN longitude IS NOT NULL
           AND (NOT regexp_matches(longitude, '^-?\d+(\.\d+)?$')
                OR TRY_CAST(longitude AS DECIMAL(38,18)) IS NULL
                OR NOT (TRY_CAST(longitude AS DECIMAL(38,18))
                        BETWEEN -180 AND 180))
        THEN 'Invalid longitude.'
      WHEN pollination IS NOT NULL
           AND NOT regexp_matches(pollination, '^[1-4]$')
        THEN 'Invalid pollination quality.'
      WHEN pollen IS NOT NULL AND upper(pollen) NOT IN ('Y', 'N')
        THEN 'Invalid pollen flag.'
      WHEN nectar IS NOT NULL AND upper(nectar) NOT IN ('Y', 'N')
        THEN 'Invalid nectar flag.'
    END AS error_message
  FROM stg_obs;

CREATE VIEW obs_q_bk AS
  SELECT error_message FROM obs_tagged WHERE error_message IS NOT NULL;

CREATE VIEW obs_norm AS
  SELECT rid,
         authors,
         spcase(pollinator_species) AS poll_sp,
         spcase(plant_species) AS plant_sp,
         caste AS caste_n,
         CASE WHEN habitat IS NULL THEN NULL
              ELSE initcap1(habitat) END AS habitat_n,
         -- the reference's six pollinator repairs + conditional
         -- plant repair (04_ETL1_part3.sql:240-290; round-14 parity —
         -- the old constants here mirrored the engine's wrong codes,
         -- masking the divergence).  Each reference UPDATE is gated
         -- `nbn_pollinator_code != '<new>'`, which never fires on NULL
         -- (round-15 ADVICE): NULL codes stay NULL.
         CASE WHEN nbn_pollinator_code IS NULL THEN NULL
              ELSE CASE lower(pollinator_species)
              WHEN 'apis mellifera' THEN 'NHMSYS0000875423'
              WHEN 'andrena flavipes' THEN 'NHMSYS0000875202'
              WHEN 'andrena haemorrhoa' THEN 'NHMSYS0000875215'
              WHEN 'andrena cineraria' THEN 'NHMSYS0000875177'
              WHEN 'andrena scotica' THEN 'NHMSYS0000875268'
              WHEN 'melanostoma mellinum' THEN 'NBNSYS0000006866'
              ELSE upper(nbn_pollinator_code) END
              END AS nbn_poll,
         CASE WHEN lower(plant_species) = 'prunella vulgaris'
                   AND upper(nbn_plant_code) = 'NHMSYS0000462067'
              THEN 'NBNSYS0000004225'
              ELSE upper(nbn_plant_code) END AS nbn_plant,
         TRY_CAST(interactions AS INTEGER) AS interaction_count,
         TRY_CAST(pollination AS INTEGER) AS pollination_quality_id,
         upper(pollen) = 'Y' AS pollen_collected,
         upper(nectar) = 'Y' AS nectar_collected,
         CAST(TRY_CAST(latitude AS DECIMAL(9,6)) AS DOUBLE) AS lat,
         CAST(TRY_CAST(longitude AS DECIMAL(9,6)) AS DOUBLE) AS lon,
         TRY_CAST(year_s AS INTEGER) AS y,
         coalesce(TRY_CAST(month_s AS INTEGER), 1) AS m,
         coalesce(TRY_CAST(day_s AS INTEGER), 1) AS d0
  FROM obs_tagged WHERE error_message IS NULL;

CREATE VIEW obs_dated AS
  SELECT *,
    CASE WHEN y IS NULL THEN NULL
         ELSE make_date(y, m,
           CASE WHEN m IN (4, 6, 9, 11) AND d0 > 30 THEN 30
                WHEN m = 2 AND d0 > 28 THEN 28
                ELSE d0 END)
    END AS observation_date
  FROM obs_norm;

CREATE VIEW pollinator_species_bk AS
  WITH r AS (
    SELECT poll_sp AS species_name, nbn_poll AS nbn_code,
           row_number() OVER (
             PARTITION BY poll_sp ORDER BY nbn_poll ASC NULLS LAST
           ) AS rn
    FROM obs_dated
  ) SELECT species_name, nbn_code FROM r WHERE rn = 1;

CREATE VIEW plant_species_bk AS
  WITH r AS (
    SELECT plant_sp AS species_name, nbn_plant AS nbn_code,
           row_number() OVER (
             PARTITION BY plant_sp ORDER BY nbn_plant ASC NULLS LAST
           ) AS rn
    FROM obs_dated
  ) SELECT species_name, nbn_code FROM r WHERE rn = 1;

CREATE VIEW castes_bk AS
  SELECT DISTINCT caste_n AS caste_name FROM obs_dated
  WHERE caste_n IS NOT NULL;

CREATE VIEW habitats_bk AS
  SELECT DISTINCT habitat_n AS habitat_name FROM obs_dated
  WHERE habitat_n IS NOT NULL;

CREATE VIEW locations_bk AS
  SELECT DISTINCT lat AS latitude, lon AS longitude FROM obs_dated
  WHERE lat IS NOT NULL AND lon IS NOT NULL;

-- author -> user attribution (substring match + priority ladder)
CREATE VIEW obs_attr AS
  WITH cand AS (
    SELECT u.username, u.last_name, ui.institution_name, ui.city_name,
           ui.county_name, ui.country_name, ui.start_date, ui.end_date
    FROM users_bk u JOIN user_institution_bk ui USING (username)
  ), matched AS (
    SELECT o.*, c.username, c.institution_name AS inst_name,
           c.city_name AS inst_city, c.county_name AS inst_county,
           c.country_name AS inst_country,
           c.start_date, c.end_date,
           min(c.start_date) OVER (PARTITION BY o.rid, c.username)
             AS first_start
    FROM obs_dated o
    -- INNER (round-14 parity): the reference never inserts an
    -- observation whose authors match no user with an affiliation
    -- interval (04_ETL1_part3.sql:390-416, NOT NULL FK)
    JOIN cand c
      ON contains(lower(o.authors), lower(c.last_name))
  ), prio AS (
    SELECT *,
      CASE
        WHEN observation_date IS NOT NULL
             AND observation_date >= start_date
             AND (end_date IS NULL OR observation_date <= end_date) THEN 1
        WHEN observation_date IS NULL AND end_date IS NULL THEN 2
        WHEN observation_date IS NOT NULL
             AND observation_date < first_start
             AND start_date = first_start THEN 3
        ELSE 4
      END AS p
    FROM matched
  ), picked AS (
    SELECT *, row_number() OVER (
      PARTITION BY rid
      -- (inst_name, inst_city) completes the total order at the
      -- institution's BUSINESS identity: the keeps-both dedup can give
      -- a user two same-dated intervals at different institutions —
      -- including one NAME in two cities — and the engine orders by the
      -- same (name, city) pair (round-13 id-grain)
      ORDER BY p, start_date ASC NULLS LAST, username ASC NULLS LAST,
               inst_name ASC NULLS LAST, inst_city ASC NULLS LAST,
               inst_county ASC NULLS LAST, inst_country ASC NULLS LAST
    ) AS rn
    FROM prio
  )
  SELECT * FROM picked WHERE rn = 1;

CREATE VIEW observations_bk AS
  SELECT username, start_date AS aff_start,
         inst_name AS institution_name, inst_city AS city_name,
         inst_county AS county_name,
         poll_sp AS pollinator_species, caste_n AS caste_name,
         plant_sp AS plant_species, habitat_n AS habitat_name,
         -- location-resolved: the silver FK is NULL unless BOTH coords
         -- parse, so a half-null coordinate pair projects as NULL/NULL
         CASE WHEN lat IS NOT NULL AND lon IS NOT NULL THEN lat END
           AS latitude,
         CASE WHEN lat IS NOT NULL AND lon IS NOT NULL THEN lon END
           AS longitude,
         observation_date, interaction_count, pollination_quality_id,
         pollen_collected, nectar_collected
  FROM obs_attr;

-- ============================== ETL2: gold ===============================
CREATE VIEW obs_gold AS
  SELECT *, year(observation_date) AS oy, month(observation_date) AS om
  FROM obs_attr
  WHERE observation_date IS NOT NULL
    AND lat IS NOT NULL AND lon IS NOT NULL;

CREATE VIEW dim_date_bk AS
  SELECT DISTINCT oy AS year, om AS month,
         monthname(make_date(oy, om, 1)) AS month_name,
         strftime(make_date(oy, om, 1), '%Y-%m') AS month_year
  FROM obs_gold;

CREATE VIEW bridge_bk AS
  SELECT DISTINCT poll_sp AS species_name, caste_n AS caste_name
  FROM obs_attr WHERE caste_n IS NOT NULL;

CREATE VIEW fact_pollination_bk AS
  SELECT poll_sp AS pollinator_species, caste_n AS caste_name,
         plant_sp AS plant_species, habitat_n AS habitat_name,
         lat AS latitude, lon AS longitude, oy AS year, om AS month,
         CAST(coalesce(sum(interaction_count), 0) AS BIGINT)
           AS interaction_count,
         count(*) AS observation_count,
         CAST(sum(CASE WHEN pollen_collected THEN 1 ELSE 0 END) AS BIGINT)
           AS pollen_collected,
         CAST(sum(CASE WHEN nectar_collected THEN 1 ELSE 0 END) AS BIGINT)
           AS nectar_collected,
         CAST(sum(CASE WHEN pollination_quality_id IS NOT NULL
                        AND pollination_quality_id <> 4
                       THEN 1 ELSE 0 END) AS BIGINT)
           AS confirmed_pollination_count
  FROM obs_gold
  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8;

-- user-facing facts: re-join the attributed slice to ALL dim_institution
-- slices with the same (user, institution) — mirrors etl2's join on
-- (user_id_bk, institution_id_bk), id-grain = (name, city) here — then
-- subscription: active else the one starting at join_date (both LEFT
-- joins can fan out, exactly as the reference's do:
-- 08_ETL2_part2.sql:97-104).
CREATE VIEW obs_user AS
  SELECT o.*, u.join_date,
         s2.start_date AS inst_start, s2.institution_name AS inst_name2,
         s2.city_name AS inst_city2,
         coalesce(sa.start_date, se.start_date) AS sub_start,
         coalesce(sa.subscription_type_name, se.subscription_type_name)
           AS sub_type
  FROM obs_gold o
  JOIN users_bk u USING (username)
  JOIN user_institution_bk s2
    ON s2.username = o.username
   AND s2.institution_name = o.inst_name
   AND s2.city_name IS NOT DISTINCT FROM o.inst_city
   AND s2.county_name IS NOT DISTINCT FROM o.inst_county
   AND s2.country_name IS NOT DISTINCT FROM o.inst_country
  LEFT JOIN user_subscription_bk sa
    ON sa.username = o.username
   AND sa.start_date <= o.observation_date
   AND (sa.end_date IS NULL OR sa.end_date >= o.observation_date)
  LEFT JOIN user_subscription_bk se
    ON se.username = o.username AND se.start_date = u.join_date;

CREATE VIEW fact_user_location_bk AS
  SELECT username, lat AS latitude, lon AS longitude,
         oy AS year, om AS month,
         inst_start, inst_name2 AS institution_name,
         inst_city2 AS institution_city, sub_start, sub_type,
         count(*) AS observation_count,
         CAST(coalesce(sum(interaction_count), 0) AS BIGINT)
           AS interaction_count
  FROM obs_user
  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10;

CREATE VIEW fact_user_monthly_bk AS
  SELECT username, oy AS year, om AS month,
         inst_start, inst_name2 AS institution_name,
         inst_city2 AS institution_city, sub_start, sub_type,
         count(*) AS observation_count,
         CAST(coalesce(sum(interaction_count), 0) AS BIGINT)
           AS interaction_count,
         count(DISTINCT (lat, lon)) AS distinct_locations_count,
         count(DISTINCT habitat_n) AS distinct_habitats_count,
         count(DISTINCT poll_sp) AS distinct_pollinator_species_count,
         count(DISTINCT plant_sp) AS distinct_plant_species_count
  FROM obs_user
  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8;
"""


def build(con, fixtures_dir: str) -> None:
    # the seeded type list comes from the SAME constant the engine
    # filters on (sources/seed.py) so the two can never drift apart
    from insect_observation_data_pipeline_spark.sources.seed import SUBSCRIPTION_TYPES

    types = ", ".join(f"'{t[0]}'" for t in SUBSCRIPTION_TYPES)
    con.execute(SQL.replace("{d}", fixtures_dir).replace("{types}", types))

