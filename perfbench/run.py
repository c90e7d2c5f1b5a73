"""The repository benchmark: closed-loop workloads on one Spark session.

Usage (from the repository root)::

    python3 perfbench/run.py --workload queries --seed 1 --seconds 14 --trace 0

One run is one workload in a fresh process with a fresh Spark session on
``local[nproc]``, driven by a single client, one operation at a time (a
closed loop). ``spark.catalog.clearCache()`` follows every operation, off
the clock.

``queries``: an operation builds one query of the library (SQL-shaped
queries and LLM-curation kernels) from the parquet tables ``tables.py``
writes and runs it to the noop sink. Set-up (``setup_s``, from process start) generates the
tables, starts the session and runs a check pass that collects every
operation's result and compares it with the stored DuckDB-oracle result
(``expected.json``), then one untimed warm-up pass of the timed path. Then
whole passes, in an order shuffled by ``--seed``, until ``--seconds`` have
been measured; ``wall_s`` is the fastest of them, since other tenants of a
shared host slow some passes by a third or more.

``etl_rebuild``: set-up generates the raw CSVs and document batches from
``--seed`` (``inputs.py``) and starts the session. The timed region is one
rebuild as a scheduled job meets it, in the fresh session: ``run_etl1``,
``run_etl2``, the seven reference queries over the written silver and gold
layers, then ``dedup_ingest_sink`` epochs over the document batches.
``wall_s`` is that pass. Afterwards, off the clock, the last epoch is
replayed and the outputs are checked against the counts the generators
planted.

The last stdout line is the result JSON; ``failed`` counts operations and
checks that raised or whose output was wrong. The line before it carries
the run's provenance (master, parallelism, versions, commit, seed, sizes).

With ``--trace 1`` traced operations record spans per layer (``spans.py``)
and Spark counters per operation; ``queries`` alternates untraced and
traced passes. The per-layer metrics are per traced pass. Lines before the
provenance carry the per-operation breakdown, the ``etl.*`` and
``streaming.*`` layer figures of ``etl_rebuild``, and the tracing overhead.
``--out PATH`` writes everything, spans included, to a new file (an
existing file is never overwritten).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from functools import partial  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

#: data scale of the query workloads (sf0.01 row counts)
SCALE = 0.01
#: etl_rebuild sizes: observation CSV rows, ingest epochs, documents per epoch
ETL_ROWS = 2000
EPOCHS = 1
BATCH_DOCS = 500
#: index files per table at which the sink compacts; an epoch appends 16
#: (one per bucket) to each of its two index tables, so every epoch
#: compacts both
COMPACT_AT = 16

#: the ``queries`` workload: core SQL-shaped queries, then curation kernels
QUERY_OPS = [
    "q1_pricing_summary", "flagship_top_part_supplier",
    "w2_best_month_per_customer", "a7_distinct_on_first_line",
    "j9_interval_attribution", "s8_quarantine_events",
    "j14_band_join_coincident", "e2_sessionization",
    "x32_containment", "x49_unicode_census",
]
WORKLOADS = ["queries", "etl_rebuild"]
#: reference queries over silver, then over gold (queries/reference.py)
SILVER_QUERIES = ["top_plant_pollinator_pairs", "most_observed_habitats",
                  "summary_by_pollination_quality", "top_users_by_observations"]
GOLD_QUERIES = ["top_confirmed_months", "top_location_months",
                "top_monthly_locations_per_user"]

#: per-layer metric -> unit, in the order BENCHMARK.json lists them
LAYER_UNITS = {
    "session.start_s": "s", "session.peak_rss_mb": "MB",
    "sources.read_s": "s", "sources.read_jobs": "count",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "spark.plan_s": "s", "spark.exec_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_wall_s": "s", "spark.driver_gap_s": "s",
    "spark.task_s": "s", "spark.task_cpu_s": "s", "spark.core_util": "ratio",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_write_records": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.input_bytes": "bytes", "spark.input_records": "count",
    "spark.skipped_stages": "count",
}
# GC time, spill, fetch wait, failed tasks and output bytes/records are
# zero on ``queries`` (small heap use, local shuffle, noop sink); they are
# printed on the ``layers`` line but are not reported as metrics


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", help="write the full result here (must not exist)")
    p.add_argument("--scale", type=float, default=SCALE, help=argparse.SUPPRESS)
    p.add_argument("--expected", default=os.path.join(HERE, "expected.json"),
                   help=argparse.SUPPRESS)
    p.add_argument("--etl-rows", type=int, default=ETL_ROWS, help=argparse.SUPPRESS)
    p.add_argument("--epochs", type=int, default=EPOCHS, help=argparse.SUPPRESS)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM, which exits on stdin
    EOF; otherwise it outlives this process by a few seconds."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def span(tracer, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


def install_read_spans(tracer) -> None:
    """Wrap ``sources.parquet.read_table`` everywhere the package bound it,
    so each table read is a ``sources.read`` span."""
    from insect_observation_data_pipeline_spark.sources import parquet

    original = parquet.read_table

    def read_table(spark, base_dir, name):
        if not tracer.in_operation:  # untraced passes stay unwrapped
            return original(spark, base_dir, name)
        with tracer.span("sources.read"):
            return original(spark, base_dir, name)

    for mod_name, mod in list(sys.modules.items()):
        if (mod_name.startswith("insect_observation_data_pipeline_spark")
                and getattr(mod, "read_table", None) is original):
            mod.read_table = read_table


def parquet_files(path: str) -> list[str]:
    """Data files of a parquet directory, skipping hidden and ``_`` entries
    (commit logs, staging) at any depth."""
    out = []
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        out += [os.path.join(d, f) for f in files
                if f.endswith(".parquet") and not f.startswith((".", "_"))]
    return sorted(out)


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory, from the file footers."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in parquet_files(path))


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Runner:
    def __init__(self, spark):
        self.spark = spark
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.per_op: list[dict] = []

    def fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.errors.append(f"{name}: {why}")
        print(f"FAIL {name}: {why}", file=sys.stderr)

    def check(self, name: str, got, want) -> None:
        """One output check; a mismatch counts as a failed operation."""
        self.attempted += 1
        if got != want:
            self.fail(name, f"got {got}, want {want}")

    def op(self, name: str, fn, tracer=None) -> float | None:
        """Run one operation ``fn(tracer)``; its wall time, None if it raised.
        Span bookkeeping, counters and the cache clear are off the clock."""
        self.attempted += 1
        op_id = len(self.per_op)
        try:
            with tracer.operation(op_id, name) if tracer else nullcontext():
                t0 = time.perf_counter()
                fn(tracer)
                lat = time.perf_counter() - t0
            if tracer is not None:
                self.per_op.append({"name": name, "wall_s": lat,
                                    "counters": tracer.counters(op_id)})
            return lat
        except Exception as e:
            self.fail(name, f"{type(e).__name__}: {e}"[:300])
            return None
        finally:
            self.spark.catalog.clearCache()


def query_op(build):
    """Build a query's DataFrame with ``build()`` and run it to the noop sink."""
    def run(tracer):
        with span(tracer, "queries.build"):
            df = build()
        if tracer is not None:
            with tracer.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
        with span(tracer, "spark.exec"):
            df.write.format("noop").mode("overwrite").save()
    return run


def check_query(runner: Runner, spark, name: str, query, data_dir: str,
                want: dict) -> None:
    """Collect one query's result and compare it with the oracle's."""
    from tools.compare import table_hash

    runner.attempted += 1
    try:
        df = query(spark, data_dir)
        rows = [tuple(r) for r in df.collect()]
        got = {"rows": len(rows), "hash": table_hash(rows, df.columns),
               "columns": sorted(df.columns)}
    except Exception as e:
        runner.fail(name, f"{type(e).__name__}: {e}"[:300])
        return
    finally:
        spark.catalog.clearCache()
    if got != want:
        runner.fail(name, f"result {got} != oracle {want}")


def run_queries(start_spark, args, rng, work: str) -> dict:
    """Set-up and timed passes of ``queries``."""
    import tables
    from insect_observation_data_pipeline_spark.queries import QUERIES

    with open(args.expected) as f:
        expected = json.load(f)
    if expected["scale"] != args.scale:
        raise SystemExit(f"{args.expected} holds scale {expected['scale']}, "
                         f"not {args.scale}")
    ops = QUERY_OPS
    data_dir = os.path.join(work, "data")
    sizes = tables.generate(data_dir, args.scale)
    spark = start_spark()
    runner = Runner(spark)
    timed = {name: query_op(partial(QUERIES[name], spark, data_dir)) for name in ops}
    for name in rng.sample(ops, len(ops)):
        check_query(runner, spark, name, QUERIES[name], data_dir,
                    expected["queries"].get(name))
    for name in rng.sample(ops, len(ops)):  # warm the noop-sink path too
        runner.op(name, timed[name])
    setup_s = time.perf_counter() - T_PROCESS

    tracer = make_tracer(spark, args)
    walls: dict[bool, list[float]] = {False: [], True: []}
    measured, traced = 0.0, False
    while measured < args.seconds or (tracer and not walls[True]):
        wall = 0.0
        for name in rng.sample(ops, len(ops)):
            wall += runner.op(name, timed[name], tracer if traced else None) or 0.0
        walls[traced].append(wall)
        measured += wall
        traced = bool(tracer) and not traced
    return {"runner": runner, "tracer": tracer, "setup_s": setup_s, "walls": walls,
            "sizes": {"table_rows": sizes}, "side": {}}


def make_tracer(spark, args):
    if not args.trace:
        return None
    from spans import Tracer

    tracer = Tracer(spark)
    install_read_spans(tracer)
    return tracer


class LazyLayer(dict):
    """A warehouse layer as ``{table: DataFrame}``, each table read with
    ``sources.parquet.read_table`` when a query first asks for it."""

    def __init__(self, spark, layer_dir: str):
        super().__init__()
        self.spark, self.layer_dir = spark, layer_dir

    def __missing__(self, name: str):
        from insect_observation_data_pipeline_spark.sources import parquet

        self[name] = df = parquet.read_table(self.spark, self.layer_dir, name)
        return df


def run_etl(start_spark, args, rng, work: str) -> dict:
    """Set-up, the one timed rebuild pass and the output checks of
    ``etl_rebuild``."""
    import inputs
    from insect_observation_data_pipeline_spark.etl import runner as etl
    from insect_observation_data_pipeline_spark.queries import reference
    from insect_observation_data_pipeline_spark.streaming import dedup_ingest_sink

    raw, wh = os.path.join(work, "raw"), os.path.join(work, "warehouse")
    corpus = os.path.join(work, "corpus")
    want = inputs.etl_csvs(raw, args.seed, args.etl_rows)
    batches, want_stream = inputs.doc_batches(args.seed, args.epochs, BATCH_DOCS)
    spark = start_spark()
    runner = Runner(spark)
    frames = [spark.createDataFrame(b, "doc_id long, text string") for b in batches]
    sink = dedup_ingest_sink(corpus, compact_file_threshold=COMPACT_AT)
    setup_s = time.perf_counter() - T_PROCESS
    tracer = make_tracer(spark, args)
    compactions = time_compactions(tracer)

    def traced(name: str, fn):
        def run(tr):
            with span(tr, name):
                fn()
        return run

    def reference_op(name: str, layer: str):
        return query_op(lambda: getattr(reference, name)(
            LazyLayer(spark, os.path.join(wh, layer))))

    ops = [
        ("etl1", traced("etl.etl1", lambda: etl.run_etl1(spark, raw, wh))),
        ("etl2", traced("etl.etl2", lambda: etl.run_etl2(spark, wh))),
        *[(f"ref.{q}", reference_op(q, "silver")) for q in SILVER_QUERIES],
        *[(f"ref.{q}", reference_op(q, "gold")) for q in GOLD_QUERIES],
        *[(f"epoch.{i}", traced("streaming.epoch",
                                lambda i=i: sink(frames[i], i)))
          for i in range(len(frames))],
    ]
    index_dir = f"{corpus}__index"
    lat: dict[str, float] = {}
    index_files: list[int] = []
    for name, fn in ops:
        lat[name] = runner.op(name, fn, tracer) or 0.0
        if name.startswith("epoch."):
            index_files.append(len(parquet_files(index_dir)))
    walls = {False: [], True: []}
    walls[tracer is not None].append(sum(lat.values()))

    # off the clock: replay, then the outputs against the planted counts
    corpus_rows = parquet_rows(corpus)
    index_rows = parquet_rows(index_dir)
    runner.op("replay", lambda _tr: sink(frames[-1], len(frames) - 1))
    runner.check("stream.replay_appends_nothing",
                 (parquet_rows(corpus), parquet_rows(index_dir)),
                 (corpus_rows, index_rows))
    check_etl(runner, wh, want)
    check_stream(runner, corpus, corpus_rows, index_rows, want_stream)

    epochs = [lat[f"epoch.{i}"] for i in range(len(frames))]
    etl_s = lat["etl1"] + lat["etl2"]
    q = max(1, len(epochs) // 4)
    csv_bytes = tree_bytes(raw)
    written = sum(tree_bytes(os.path.join(wh, d)) for d in ("silver", "quarantine", "gold"))
    side = {
        "etl.etl1_s": lat["etl1"], "etl.etl2_s": lat["etl2"],
        "etl.reference_queries_s": sum(v for k, v in lat.items() if k.startswith("ref.")),
        "etl.rows_per_s": args.etl_rows / etl_s if etl_s else None,
        "etl.silver_rows": sum(parquet_rows(os.path.join(wh, "silver", t))
                               for t in os.listdir(os.path.join(wh, "silver"))),
        "etl.quarantine_rows": parquet_rows(os.path.join(wh, "quarantine")),
        "etl.gold_rows": parquet_rows(os.path.join(wh, "gold")),
        "etl.bytes_written": written,
        "etl.write_amp": written / csv_bytes,
        "streaming.epoch_s": epochs,
        "streaming.rows_per_s": want_stream["offered"] / sum(epochs) if sum(epochs) else None,
        "streaming.compactions": len(compactions),
        "streaming.compaction_s": sum(compactions),
        "streaming.index_files_max": max(index_files),
        "streaming.kept_ratio": corpus_rows / want_stream["offered"],
        # median epoch, last quarter of the run over the first
        "streaming.epoch_growth": (statistics.median(epochs[-q:])
                                   / statistics.median(epochs[:q])
                                   if len(epochs) > 1 else None),
        "streaming.write_amp": (tree_bytes(corpus) + tree_bytes(index_dir)
                                + tree_bytes(f"{corpus}__bands"))
        / sum(len(t.encode()) for b in batches for _, t in b),
    }
    if tracer is not None:
        jobs = {o["name"]: o["counters"]["jobs"] for o in runner.per_op}
        side["etl.etl1_jobs"] = jobs.get("etl1")
        side["etl.etl2_jobs"] = jobs.get("etl2")
        side["streaming.epoch_jobs"] = [jobs.get(f"epoch.{i}") for i in range(len(frames))]
    sizes = {"etl_rows": args.etl_rows, "csv_rows": want["csv_rows"],
             "csv_bytes": csv_bytes, "epochs": len(frames), "batch_docs": BATCH_DOCS}
    return {"runner": runner, "tracer": tracer, "setup_s": setup_s, "walls": walls,
            "sizes": sizes, "side": side}


def time_compactions(tracer) -> list[float]:
    """Wrap the ingest sink's index compaction; the returned list collects
    the duration of each call (a ``streaming.compact`` span when traced)."""
    from insect_observation_data_pipeline_spark.streaming import sink

    original, took = sink._compact_bucketed_table, []

    def compact(*a, **kw):
        t0 = time.perf_counter()
        with span(tracer, "streaming.compact"):
            original(*a, **kw)
        took.append(time.perf_counter() - t0)

    sink._compact_bucketed_table = compact
    return took


def check_etl(runner: Runner, wh: str, want: dict) -> None:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    for t, n in want["silver_rows"].items():
        if t != "institutions":  # the load adds the Unaffiliated placeholder
            runner.check(f"etl.silver.{t}", parquet_rows(os.path.join(wh, "silver", f"{t}.parquet")), n)
    rules: dict[str, int] = {}
    for t, n in want["quarantine_rows"].items():
        path = os.path.join(wh, "quarantine", f"{t}.parquet")
        runner.check(f"etl.quarantine.{t}", parquet_rows(path), n)
        for msg in pq.read_table(path, columns=["error_message"]).column(0).to_pylist():
            rules[msg] = rules.get(msg, 0) + 1
    runner.check("etl.quarantine.per_rule", rules, want["quarantine_rules"])
    fact = pq.read_table(os.path.join(wh, "gold", "fact_pollination_activity.parquet"),
                         columns=["observation_count"])
    runner.check("etl.gold.fact_observations",
                 pc.sum(fact.column(0)).as_py(), want["fact_observations"])


def check_stream(runner: Runner, corpus: str, corpus_rows: int, index_rows: int,
                 want: dict) -> None:
    import pyarrow.parquet as pq

    files = parquet_files(corpus)
    ids = set(pq.ParquetDataset(files).read(columns=["doc_id"]).column(0).to_pylist()
              ) if files else set()
    runner.check("stream.kept", corpus_rows, want["kept"])
    runner.check("stream.planted_duplicates_kept", sorted(ids & set(want["dup_ids"])), [])
    runner.check("stream.index_tracks_corpus", index_rows, corpus_rows)


def layer_metrics(tracer, per_op: list[dict], passes: int, cores: int) -> dict:
    """Per-layer totals of the traced passes, per pass."""
    spans = tracer.spans

    def span_sum(name: str, key: str) -> float:
        if key == "jobs":
            return sum(s["jobs"] for s in spans if s["name"] == name)
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    tot = {k: sum(o["counters"][k] for o in per_op) for k in per_op[0]["counters"]}
    op_wall = sum(o["wall_s"] for o in per_op)
    m = {
        "sources.read_s": span_sum("sources.read", "s"),
        "sources.read_jobs": span_sum("sources.read", "jobs"),
        # a build's jobs include those of the reads nested in it
        "queries.build_s": span_sum("queries.build", "s"),
        "queries.build_jobs": span_sum("queries.build", "jobs")
        + span_sum("sources.read", "jobs"),
        "spark.plan_s": span_sum("spark.plan", "s"),
        "spark.exec_s": span_sum("spark.exec", "s"),
        "spark.driver_gap_s": op_wall - tot["job_wall_s"],
        **{f"spark.{k}": v for k, v in tot.items()},
    }
    m = {k: v / passes for k, v in m.items()}
    m["spark.core_util"] = tot["task_s"] / (tot["job_wall_s"] * cores)
    return m


def trace_overhead(walls: dict[bool, list[float]]) -> dict:
    """Traced minus untraced median pass; resolved only when it exceeds the
    spread of the untraced passes."""
    if not (walls[True] and walls[False]):
        return {"overhead_s": None, "resolved": False,
                "why": "no untraced pass to compare with"}
    diff = statistics.median(walls[True]) - statistics.median(walls[False])
    spread = max(walls[False]) - min(walls[False]) if len(walls[False]) > 1 else None
    return {"overhead_s": diff, "untraced_spread_s": spread,
            "passes": {"untraced": len(walls[False]), "traced": len(walls[True])},
            "resolved": spread is not None and abs(diff) > spread}


def run(args: argparse.Namespace) -> dict:
    work = os.path.join(os.getcwd(), ".bench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cores = nproc()
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    rng = random.Random(args.seed)
    started: list = []

    def start_spark():
        from insect_observation_data_pipeline_spark import get_spark

        t = time.perf_counter()
        spark = get_spark("perfbench", extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse-meta"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        })
        spark.sparkContext.setLogLevel("ERROR")
        started.append((spark, time.perf_counter() - t))
        return spark

    try:
        body = run_etl if args.workload == "etl_rebuild" else run_queries
        res = body(start_spark, args, rng, work)
        spark, session_start_s = started[0]
        runner, tracer, walls = res["runner"], res["tracer"], res["walls"]
        layers: dict = {}
        if tracer is not None:
            layers = layer_metrics(tracer, runner.per_op, len(walls[True]), cores)
            layers["session.start_s"] = session_start_s
            layers["session.peak_rss_mb"] = (
                vm_hwm_mb(spark.sparkContext._gateway.proc.pid) + vm_hwm_mb("self"))
            metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
        else:
            metrics = {
                "setup_s": {"value": res["setup_s"], "unit": "s"},
                "wall_s": {"value": min(walls[False]), "unit": "s"},
            }
        provenance = provenance_of(spark, args, cores, res["sizes"])
        spans = tracer.dump() if tracer is not None else []
    finally:
        if started:
            stop_spark(started[0][0])
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    return {
        "result": {
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": metrics,
        },
        "provenance": provenance,
        "passes": {"untraced": walls[False], "traced": walls[True]},
        "trace": trace_overhead(walls) if args.trace else None,
        "layers": {**layers, **res["side"]},
        "per_op": summarize_ops(runner.per_op),
        "errors": runner.errors,
        "spans": spans,
    }


def summarize_ops(per_op: list[dict]) -> dict:
    """op.<name>.wall_s / .jobs / .shuffle_write_records, medians per name."""
    by_name: dict[str, list[dict]] = {}
    for o in per_op:
        by_name.setdefault(o["name"], []).append(o)
    out = {}
    for name, runs in sorted(by_name.items()):
        out[f"op.{name}.wall_s"] = statistics.median(o["wall_s"] for o in runs)
        for k in ("jobs", "shuffle_write_records"):
            out[f"op.{name}.{k}"] = statistics.median(o["counters"][k] for o in runs)
    return out


def provenance_of(spark, args, cores: int, sizes: dict) -> dict:
    from tools.compare import artifact_meta

    sc = spark.sparkContext
    return artifact_meta({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, **sizes,
        "master": sc.master, "default_parallelism": sc.defaultParallelism,
        "nproc": cores, "spark_version": spark.version,
        "python_version": platform.python_version(),
    })


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if args.out and os.path.exists(args.out):
        print(f"refusing to overwrite {args.out}", file=sys.stderr)
        return 2
    try:
        import insect_observation_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"the package to benchmark is not importable: {e}", file=sys.stderr)
        return 2
    out = run(args)
    if args.out:
        with open(args.out, "x") as f:
            json.dump(out, f, indent=1)
    if args.trace:
        print(json.dumps({"per_op": out["per_op"]}))
        print(json.dumps({"trace": out["trace"]}))
    if out["layers"]:
        print(json.dumps({"layers": out["layers"]}))
    print(json.dumps({"provenance": out["provenance"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
