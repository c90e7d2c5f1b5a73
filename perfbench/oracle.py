"""DuckDB oracle hashes for the benchmark's operations.

``expected_for(data_dir, names)`` runs each query's DuckDB oracle SQL
(``queries.ORACLE``) over the parquet tables in ``data_dir`` and returns
``{name: {"rows": n, "hash": h, "columns": sorted names}}`` with ``tools/compare.table_hash``, the
hash the correctness gate uses.

Run as a script to regenerate the stored ``expected.json`` for the
benchmark's data scale (from the repository root)::

    python3 perfbench/oracle.py            # rewrite perfbench/expected.json
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402

from insect_observation_data_pipeline_spark.queries import ORACLE  # noqa: E402
from insect_observation_data_pipeline_spark.sources.parquet import TESTDATA_TABLES  # noqa: E402
from tools.compare import table_hash  # noqa: E402

EXPECTED_PATH = os.path.join(HERE, "expected.json")


def expected_for(data_dir: str, names: list[str]) -> dict[str, dict]:
    con = duckdb.connect()
    try:
        for t in TESTDATA_TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        out = {}
        for name in names:
            res = con.execute(ORACLE[name])
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            out[name] = {"rows": len(rows), "hash": table_hash(rows, cols),
                         "columns": sorted(cols)}
        return out
    finally:
        con.close()


def main() -> int:
    import run
    import tables

    with tempfile.TemporaryDirectory() as d:
        sizes = tables.generate(d, run.SCALE)
        names = run.QUERY_OPS
        doc = {
            "scale": run.SCALE,
            "data_seed": tables.DATA_SEED,
            "table_rows": sizes,
            "queries": expected_for(d, names),
        }
    with open(EXPECTED_PATH, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {EXPECTED_PATH}: {len(doc['queries'])} queries")
    return 0


if __name__ == "__main__":
    sys.exit(main())
