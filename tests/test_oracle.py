"""Every registered query hash-checked live against its DuckDB oracle.

Each query runs at sf0.01 in two sessions: the pinned test session
(``get_spark``'s config) and a vanilla one (``spark.newSession()`` with
those ``spark.sql.*`` pins unset, as a plain driver session reads them).
A config-coupled expression — ``unix_micros`` on TIMESTAMP_NTZ, a plan
that depends on the shuffle-partition count — goes red in the vanilla
case even when the pinned case is green.
"""

from __future__ import annotations

import os

import pytest

from __spark_entry__ import SF0001_DIR, queries
from tools.compare import compare_query, oracle_connection, vanilla_session

SF_DIR = os.path.join(os.path.dirname(SF0001_DIR), "sf0.01")
NAMES = list(queries())


@pytest.fixture(scope="module")
def oracle_con():
    con = oracle_connection(SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="module")
def sessions(spark):
    return {"pinned": spark, "vanilla": vanilla_session(spark)}


@pytest.mark.parametrize("session", ["pinned", "vanilla"])
@pytest.mark.parametrize("name", NAMES)
def test_query_matches_duckdb_oracle(sessions, oracle_con, session, name):
    s = sessions[session]
    if session == "vanilla":
        assert s.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
        assert s.conf.get("spark.sql.shuffle.partitions") == "200"
    problems = compare_query(s, oracle_con, name, SF_DIR)
    assert not problems, f"{name} ({session}): " + "; ".join(problems)
