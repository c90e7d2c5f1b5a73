"""Capture ``.explain("formatted")`` for queries into plans/<round>/.

Usage: python tools/capture_plans.py <suffix> [--sf-dir DIR] [query ...]
Writes plans/$SPARK_GRAFT_PLANS_ROUND/<query>_<suffix>.txt for each
query (suffix is "before" / "after"; round defaults to r16). DIR
defaults to the sf0.1 testdata; every other argument is a query name.
"""

from __future__ import annotations

import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from insect_observation_data_pipeline_spark import get_spark  # noqa: E402
from insect_observation_data_pipeline_spark.queries import QUERIES  # noqa: E402


def main() -> None:
    if len(sys.argv) < 2:  # ADVICE r15: usage, not a bare IndexError
        sys.exit(__doc__)
    suffix = sys.argv[1]
    args = sys.argv[2:]
    sf_dir = "/root/testdata/sf0.1"
    # an explicit flag, so a path and a query name can never be mistaken
    # for each other
    if args[:1] == ["--sf-dir"]:
        if len(args) < 2:
            sys.exit(__doc__)
        sf_dir, args = args[1], args[2:]
    unknown = set(args) - set(QUERIES)
    if unknown:
        sys.exit(f"unknown queries: {sorted(unknown)}")
    names = args or list(QUERIES)
    out_dir = os.path.join(
        REPO_ROOT, "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r16")
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR building plan: {type(e).__name__}: {e}\n"
        finally:
            spark.catalog.clearCache()
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(name)


if __name__ == "__main__":
    main()
