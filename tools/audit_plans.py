"""Dump the 100 TB plan-invariant audit for every registered query.

Writes one JSON object per query with the physical-plan flags the test
suite gates on (tests/test_plans.py::test_all_queries_plan_invariants)
plus shuffle/scan shape counts — an artifact proving no registered
query ships a row-at-a-time Python UDF, a cartesian product, or an
unpartitioned window, and showing each query's exchange count and scan
column pruning. Exits 1 on a violation, and names the query whose run
failed if one does.

Usage: python tools/audit_plans.py [out.json] [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

# anchor on __file__, not cwd, so the tool runs from outside the repo root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from insect_observation_data_pipeline_spark.plans.inspect import (  # noqa: E402
    node_classes,
    physical_plan,
    plan_flags,
    read_schema_columns,
    unpartitioned_windows,
)
from insect_observation_data_pipeline_spark.queries import QUERIES  # noqa: E402
from insect_observation_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "PLANS.json"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[str, dict] = {}
    for name, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        flags = plan_flags(df)
        scans = read_schema_columns(df)
        # exchange, broadcast and codegen counts come from the FINAL
        # plan: AQE re-plans at run time (SMJ->broadcast conversion,
        # coalesced shuffles) and inserts WholeStageCodegen only as its
        # stages materialize, so the pre-execution tree shows neither
        try:
            df.collect()
        except Exception as e:  # noqa: BLE001 — name the query, then fail
            sys.exit(f"{name}: collect failed: {type(e).__name__}: {e}")
        final = node_classes(physical_plan(df))
        results[name] = {
            **flags,
            "whole_stage_codegen": final["WholeStageCodegenExec"] > 0,
            "unpartitioned_windows": unpartitioned_windows(df),
            "exchanges": final["ShuffleExchangeExec"],
            "broadcast_exchanges": final["BroadcastExchangeExec"],
            "executed": True,
            "scan_columns": [len(c) for c in scans],
        }
        print(name, "ok")
    bad = {
        n: r
        for n, r in results.items()
        if r["python_udf"] or r["cartesian_product"] or r["unpartitioned_windows"]
    }
    from tools.compare import artifact_meta

    results["__meta__"] = artifact_meta({"sf_dir": sf_dir})
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)
    print(
        f"{len(results) - 1} queries audited, {len(bad)} violations "
        f"-> {out_path}"
    )
    if bad:
        print("VIOLATIONS:", sorted(bad))
        sys.exit(1)


if __name__ == "__main__":
    main()
