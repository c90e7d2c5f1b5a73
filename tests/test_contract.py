"""Driver-contract sanity: every query has an oracle, entry() returns rows."""

from __future__ import annotations

import __spark_entry__ as entrymod


# Queries DELIBERATELY without a DuckDB oracle (driver falls back to a
# rows-only check) — only iterative float algorithms whose fixpoint no
# SQL replay can reproduce belong here; everything else must have one.
# Empty since x30 gained a pinned VALUES oracle (stability asserted by
# tests/test_llm.py::test_x30_stable_under_repartitioning).
ROWS_ONLY: set[str] = set()


def test_keys_match():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs), "oracle without query"
    missing = set(qs) - set(oracles)
    assert missing == ROWS_ONLY, (
        f"queries without oracle beyond the sanctioned rows-only set: "
        f"{missing ^ ROWS_ONLY}"
    )


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"part_name", "supplier_name", "interaction_count"}


def test_sql_surface_matches_dataframe(spark):
    """register_views makes the workload runnable via spark.sql with
    results identical to the DataFrame library."""
    from insect_observation_data_pipeline_spark.queries import QUERIES
    from insect_observation_data_pipeline_spark.sources.parquet import register_views

    sf = "/root/testdata/sf0.001"
    register_views(spark, sf)
    got = spark.sql(
        """
        SELECT p.p_name AS part_name, s.s_name AS supplier_name,
               count(*) AS interaction_count
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
        ORDER BY interaction_count DESC, part_name, supplier_name
        LIMIT 10
        """
    ).collect()
    expected = QUERIES["flagship_top_part_supplier"](spark, sf).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in expected]


def test_write_partitioned_prunes(spark, tmp_path):
    """Partition filters prune at plan time: a filtered read touches only
    the matching partition directories."""
    from insect_observation_data_pipeline_spark.plans.inspect import (
        physical_plan,
        plan_nodes,
    )
    from insect_observation_data_pipeline_spark.sources.parquet import read_table, write_partitioned

    out = str(tmp_path / "orders_part")
    orders = read_table(spark, "/root/testdata/sf0.001", "orders")
    write_partitioned(
        orders.withColumn("o_status", orders["o_orderstatus"]),
        out,
        partition_by=("o_status",),
        sort_by=("o_orderdate",),
    )
    df = spark.read.parquet(out).filter("o_status = 'F'")
    # the partition predicate moves into the scan's partitionFilters
    # (plan-time directory pruning), not PushedFilters / post-scan Filter
    pf = [
        str(scan.partitionFilters())
        for name, scan in plan_nodes(physical_plan(df))
        if name == "FileSourceScanExec"
    ]
    assert pf and "o_status" in pf[0], pf
    assert df.count() == orders.filter("o_orderstatus = 'F'").count()


def test_readme_test_count_floor():
    """Round-13 verdict #5: the README's test count was hand-edited and
    drifted twice (said 286 when the suite was 291). It now states a
    FLOOR ("N+ tests") and this test derives the real number — the
    count of collected-style `def test_` functions across tests/ — so
    the claim can never silently overstate again. Raise the README
    floor deliberately; it can only fail by claiming more than exists."""
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    m = re.search(r"\| `tests/` \| (\d+)\+ tests", (root / "README.md").read_text())
    assert m, "README tests/ row must state an 'N+ tests' floor"
    claimed_floor = int(m.group(1))
    defined = sum(
        len(re.findall(r"^def test_", p.read_text(), re.MULTILINE))
        for p in (root / "tests").glob("test_*.py")
    )
    assert defined >= claimed_floor, (
        f"README claims {claimed_floor}+ tests but only {defined} test "
        "functions are defined — lower the README floor"
    )
