"""Query registry: every registered query and its DuckDB oracle SQL.

``QUERIES`` keeps declared order (the core library, then the LLM-data
kernels); ``ORACLE`` maps the same names to DuckDB SQL.
``tests/test_oracle.py`` hash-checks every entry against its oracle at
sf0.01 on each test run.
"""

from __future__ import annotations

from insect_observation_data_pipeline_spark.queries.testdata import QUERIES as _CORE
from insect_observation_data_pipeline_spark.queries.testdata import flagship
from insect_observation_data_pipeline_spark.queries.oracle import ORACLE as _CORE_ORACLE
from insect_observation_data_pipeline_spark.queries.llm_testdata import LLM_QUERIES
from insect_observation_data_pipeline_spark.queries.llm_oracle import LLM_ORACLE

QUERIES = {**_CORE, **LLM_QUERIES}
ORACLE = {**_CORE_ORACLE, **LLM_ORACLE}

__all__ = ["QUERIES", "ORACLE", "flagship"]
