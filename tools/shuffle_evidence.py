"""Shuffle-write evidence for the w2 -> w2b switch rule (round-11
verdict #2): record, from the engine's own stage metrics, the shuffle
bytes/records each form moves at the committed data scales, next to the
register form's hard cap.

What the artifact shows:
- ``w2`` (exact COUNT(DISTINCT)): the dedup shuffle carries one record
  per distinct (customer, month, supplier) combination — the
  ``distinct_triples`` column grows with the data and the shuffle
  records track it.
- ``w2b`` (md5-register HLL): the aggregation shuffle is bounded by
  ``groups x 256`` registers (per map task) no matter how many distinct
  suppliers a hot customer touches — the ``register_cap`` column is the
  bound, computed from the measured group count.

At sf <= 0.1 no customer-month reaches 256 distinct suppliers, so the
cap does not BIND here (the artifact records exactly that headroom);
the binding-regime direction is pinned by
tests/test_plans.py::test_w2b_register_shuffle_bounded_vs_exact_distinct
with synthetic high-cardinality groups on the same metric source.

Usage: python tools/shuffle_evidence.py [out.json]   (default
SHUFFLE_EVIDENCE.json)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from insect_observation_data_pipeline_spark import get_spark  # noqa: E402
from insect_observation_data_pipeline_spark.plans.inspect import (  # noqa: E402
    shuffle_write_stages,
)
from insect_observation_data_pipeline_spark.queries import QUERIES  # noqa: E402

SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]


def _context_counts(spark, sf_dir: str) -> dict:
    """The cardinalities the two shuffle shapes are bounded by:
    distinct (custkey, month, suppkey) triples (w2's dedup-shuffle
    record count) and distinct (custkey, month) groups (whose x256 is
    w2b's register cap)."""
    l = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    joined = (
        l.select("l_orderkey", "l_suppkey")
        .join(
            o.select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "o_custkey",
            F.date_format("o_orderdate", "yyyy-MM").alias("month_year"),
            "l_suppkey",
        )
    )
    row = joined.agg(
        F.countDistinct("o_custkey", "month_year", "l_suppkey").alias("t"),
        F.countDistinct("o_custkey", "month_year").alias("g"),
    ).collect()[0]
    return {
        "distinct_triples": row["t"],
        "groups": row["g"],
        "register_cap_rows": row["g"] * 256,
    }


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "SHUFFLE_EVIDENCE.json"
    from tools.compare import artifact_meta

    spark = get_spark()
    result: dict = {"queries": {}, "context": {}, "__meta__": artifact_meta()}
    for sf_dir in SF_DIRS:
        sf = sf_dir.rsplit("sf", 1)[-1]
        result["context"][sf] = _context_counts(spark, sf_dir)
        # x7 added round 16 (VERDICT r15 #4): record the minhash
        # pipeline's per-stage shuffle records — the shared-shingle
        # persist means the tokenize+signature pass shuffles once
        # instead of once per consumer, and the band-join stage's
        # records are the bucket-pair fan-out the verdict asked to see
        for name in (
            "w2_best_month_per_customer",
            "w2b_best_month_sketch",
            "x7_minhash_lsh",
        ):
            df = QUERIES[name](spark, sf_dir)
            df.collect()  # warm (scans cached, codegen compiled)
            # evict before measuring: persist-carrying queries (x7)
            # otherwise CacheManager-match the warm pass's frames and
            # every shuffle stage is SKIPPED (the inspect guard trips)
            spark.catalog.clearCache()
            stages = shuffle_write_stages(QUERIES[name](spark, sf_dir))
            result["queries"].setdefault(name, {})[sf] = {
                "shuffle_bytes": sum(s["bytes"] for s in stages),
                "shuffle_records": sum(s["records"] for s in stages),
                "stages": stages,
            }
        spark.catalog.clearCache()
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(json.dumps({"wrote": out_path}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
