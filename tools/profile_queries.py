"""Per-query job/stage profile via the local Spark UI REST API.

For each named query: build the DataFrame, run it to the noop sink under
a dedicated job group, then pull that group's jobs + stages from
http://localhost:<ui-port>/api/v1 and aggregate
  - n_jobs: distinct Spark jobs the one invocation launched (driver
    round-trips: eager persists, count() probes, iterative steps),
  - task_time_ms: summed executor run time across stages,
  - shuffle_read/write bytes, input bytes, spill bytes.

This is the guide-§1 "empirical" loop in script form (no interactive UI
in this sandbox). Wall-clock here is single-run and NOT comparable to
bench.py medians — use it only to rank where time goes inside a query.

Usage: python tools/profile_queries.py [sf_dir] [query ...]
Writes /tmp/profile_queries.json and prints a table.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from insect_observation_data_pipeline_spark import get_spark  # noqa: E402
from insect_observation_data_pipeline_spark.queries import QUERIES  # noqa: E402


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read().decode())


def profile(spark, sf_dir: str, names: list[str]) -> dict:
    sc = spark.sparkContext
    ui = sc.uiWebUrl  # e.g. http://host:4040
    if ui is None:  # ADVICE r15: fail fast, not after the queries ran
        sys.exit(
            "Spark UI disabled (sc.uiWebUrl is None): the REST profiler "
            "needs spark.ui.enabled=true"
        )
    app_id = sc.applicationId
    base = f"{ui}/api/v1/applications/{app_id}"
    out: dict[str, dict] = {}
    for name in names:
        sc.setJobGroup(name, name)
        t0 = time.time()
        err = None
        try:
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as e:  # noqa: BLE001 — keep profiling the rest
            err = f"{type(e).__name__}: {e}"[:200]
        wall = time.time() - t0
        sc.setJobGroup(None, None)
        spark.catalog.clearCache()
        jobs = [
            j
            for j in _get(f"{base}/jobs")
            if j.get("jobGroup") == name
        ]
        stage_ids = sorted({s for j in jobs for s in j.get("stageIds", [])})
        agg = {
            "wall_s": round(wall, 3),
            "n_jobs": len(jobs),
            "n_stages": 0,
            "task_time_ms": 0,
            "input_mb": 0.0,
            "shuffle_read_mb": 0.0,
            "shuffle_write_mb": 0.0,
            "spill_mb": 0.0,
            "n_tasks": 0,
            "err": err,
        }
        for sid in stage_ids:
            try:
                attempts = _get(f"{base}/stages/{sid}")
            except Exception:  # noqa: BLE001 — skipped/missing stage
                continue
            # ADVICE r15: a failed-and-retried stage must not be
            # double-counted — keep only the latest attempt per stage
            latest: dict[int, dict] = {}
            for st in attempts:
                if st.get("status") == "SKIPPED":
                    continue
                st_id = st.get("stageId", -1)
                if (
                    st_id not in latest
                    or st.get("attemptId", 0)
                    > latest[st_id].get("attemptId", 0)
                ):
                    latest[st_id] = st
            for st in latest.values():
                agg["n_stages"] += 1
                agg["task_time_ms"] += st.get("executorRunTime", 0)
                agg["input_mb"] += st.get("inputBytes", 0) / 1e6
                agg["shuffle_read_mb"] += st.get("shuffleReadBytes", 0) / 1e6
                agg["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / 1e6
                agg["spill_mb"] += st.get("diskBytesSpilled", 0) / 1e6
                agg["n_tasks"] += st.get("numCompleteTasks", 0)
        for k in ("input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            agg[k] = round(agg[k], 2)
        out[name] = agg
    return out


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    # ADVICE r15: same disambiguation as capture_plans — a directory in
    # the cwd named like a query must not consume the query argument
    if args and args[0] not in QUERIES and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    names = args or list(QUERIES)
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    res = profile(spark, sf_dir, names)
    with open("/tmp/profile_queries.json", "w") as f:
        json.dump(res, f, indent=1)
    hdr = (
        f"{'query':34} {'wall_s':>7} {'jobs':>4} {'stages':>6} "
        f"{'task_s':>7} {'tasks':>5} {'in_mb':>7} {'shr_mb':>7} "
        f"{'shw_mb':>7} {'spill':>6}"
    )
    print(hdr)
    for n, a in sorted(res.items(), key=lambda kv: -kv[1]["wall_s"]):
        print(
            f"{n:34} {a['wall_s']:>7.2f} {a['n_jobs']:>4} {a['n_stages']:>6} "
            f"{a['task_time_ms'] / 1000:>7.1f} {a['n_tasks']:>5} "
            f"{a['input_mb']:>7.1f} {a['shuffle_read_mb']:>7.1f} "
            f"{a['shuffle_write_mb']:>7.1f} {a['spill_mb']:>6.1f}"
            + (f"  ERR {a['err']}" if a["err"] else "")
        )


if __name__ == "__main__":
    main()
