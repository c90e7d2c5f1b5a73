"""Per-query job/stage profile via the local Spark UI REST API.

For each named query: build the DataFrame, run it to the noop sink under
a dedicated job group, then pull that group's jobs + stages from
http://localhost:<ui-port>/api/v1 and aggregate
  - n_jobs: distinct Spark jobs the one invocation launched (driver
    round-trips: eager persists, count() probes, iterative steps),
  - task_time_ms: summed executor run time across stages,
  - shuffle_read/write bytes, input bytes, spill bytes,
  - stages: one row per stage (id, executor run time, tasks, I/O, spill,
    first line of the stage name), slowest first — WHICH stage
    inside a multi-job query burns the time.

This is the guide-§1 "empirical" loop in script form (no interactive UI
in this sandbox). Wall-clock here is single-run and NOT comparable to
bench.py medians — use it only to rank where time goes inside a query.

Usage: python tools/profile_queries.py [--sf-dir DIR] [query ...]
DIR defaults to the sf0.1 testdata; every other argument is a query
name, and no names means every registered query. Writes
/tmp/profile_queries.json and prints a table, then each query's
slowest stages.
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


# aggregate and per-stage MB fields, from the REST API's byte counters
_MB_FIELDS = {
    "input_mb": "inputBytes",
    "shuffle_read_mb": "shuffleReadBytes",
    "shuffle_write_mb": "shuffleWriteBytes",
    "spill_mb": "diskBytesSpilled",
}


def _stage_row(st: dict) -> dict:
    return {
        "stage_id": st["stageId"],
        "task_time_ms": st.get("executorRunTime", 0),
        "n_tasks": st.get("numCompleteTasks", 0),
        **{k: round(st.get(f, 0) / 1e6, 2) for k, f in _MB_FIELDS.items()},
        "name": (st.get("name") or "").partition("\n")[0][:90],
    }


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
        rows = []
        for st_id in stage_ids:
            try:
                attempts = _get(f"{base}/stages/{st_id}")
            except Exception:  # noqa: BLE001 — skipped/missing stage
                continue
            # ADVICE r15: a failed-and-retried stage must not be
            # double-counted — keep only the latest attempt per stage
            ran = [st for st in attempts if st.get("status") != "SKIPPED"]
            if ran:
                rows.append(
                    _stage_row(max(ran, key=lambda st: st.get("attemptId", 0)))
                )
        rows.sort(key=lambda r: -r["task_time_ms"])
        out[name] = {
            "wall_s": round(wall, 3),
            "n_jobs": len(jobs),
            "n_stages": len(rows),
            **{
                k: round(sum(r[k] for r in rows), 2)
                for k in ("task_time_ms", "n_tasks", *_MB_FIELDS)
            },
            "err": err,
            "stages": rows,
        }
    return out


def main() -> None:
    args = sys.argv[1:]
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
    for n, a in res.items():
        print(f"\n{n}: slowest stages")
        print(
            f"{'sid':>4} {'task_s':>7} {'tasks':>5} {'in_mb':>7} {'shr_mb':>7} "
            f"{'shw_mb':>7}  name"
        )
        for st in a["stages"][:5]:
            print(
                f"{st['stage_id']:>4} {st['task_time_ms'] / 1000:>7.2f} "
                f"{st['n_tasks']:>5} {st['input_mb']:>7.1f} "
                f"{st['shuffle_read_mb']:>7.1f} {st['shuffle_write_mb']:>7.1f}"
                f"  {st['name']}"
            )

if __name__ == "__main__":
    main()
