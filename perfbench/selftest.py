"""Self-test of the benchmark at tiny size (sf0.001 tables, 400 ETL rows,
two ingest epochs, 1-second runs).

Run from the repository root::

    python3 perfbench/selftest.py

It computes DuckDB-oracle results for the tiny tables, then checks that

- every workload, untraced and traced, prints a result line with exactly
  the contract keys, passes its output checks, and emits every metric that
  ``BENCHMARK.json`` names, with its unit;
- a corrupted expected hash (``queries``) and a corrupted planted
  count (``etl_rebuild``) each turn into failed operations (a nonzero
  error rate) and ``correct: false``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import run  # noqa: E402
import tables  # noqa: E402

TINY = ["--seconds", "1", "--scale", "0.001", "--etl-rows", "400", "--epochs", "2"]


def bench(workload: str, trace: int, expected: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--trace", str(trace), "--expected", expected, *TINY]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, spec: list[dict], label: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, label
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{label}: metrics {got} != BENCHMARK.json {want}"
    for name, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{label}: {name}={v}"


def corrupted_etl_run(expected: str) -> dict:
    """One in-process etl_rebuild run whose planted per-rule count is off
    by one."""
    import inputs

    real = inputs.etl_csvs

    def wrong(*a, **kw):
        want = real(*a, **kw)
        want["quarantine_rules"]["Invalid year."] += 1
        return want

    inputs.etl_csvs = wrong
    try:
        args = run.parse_args(["--workload", "etl_rebuild", "--seed", "7",
                               "--trace", "0", "--expected", expected, *TINY])
        return run.run(args)["result"]
    finally:
        inputs.etl_csvs = real


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(os.getcwd(), ".bench_work", f"selftest-{os.getpid()}")
    try:
        data = os.path.join(work, "data")
        tables.generate(data, 0.001)
        names = run.QUERY_OPS
        good = {"scale": 0.001, "queries": oracle.expected_for(data, names)}
        good_path = os.path.join(work, "expected.json")
        with open(good_path, "w") as f:
            json.dump(good, f)

        for w in spec["workloads"]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                label = f"{w['name']} trace={trace}"
                r = bench(w["name"], trace, good_path)
                assert r["correct"] and r["failed"] == 0, f"{label}: {r}"
                check_metrics(r, spec[key], label)
                print(f"ok  {label}: {r['attempted']} operations and checks")

        victim = run.QUERY_OPS[0]
        bad = json.loads(json.dumps(good))
        bad["queries"][victim]["hash"] = "0" * 16
        bad_path = os.path.join(work, "expected_corrupt.json")
        with open(bad_path, "w") as f:
            json.dump(bad, f)
        for label, r in ((f"corrupted hash of {victim}", bench("queries", 0, bad_path)),
                         ("corrupted planted count", corrupted_etl_run(good_path))):
            assert not r["correct"] and r["failed"] >= 1, f"{label} not caught: {r}"
            print(f"ok  {label}: error rate {r['failed'] / r['attempted']:.3f}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
