"""Operational entrypoints: EP1 (CSV -> silver) + EP2 (silver -> gold).

The transform layer is pure ``DataFrame -> DataFrame`` functions
(etl1/etl2); this runner adds the MATERIALIZATION policy from SURVEY §3:

- ETL1 is cut where the reference cuts it. The reference runs part 1
  (institutions), part 2 (users + SCD2) and part 3 (observations) in
  order, each reading the tables the previous part wrote. Here each
  part's frames that a later part reads are ``localCheckpoint``-ed
  eagerly at that boundary: the part-1 silver frames (geography +
  institutions) after ``load_institutions``, ``users`` and
  ``user_institution`` after ``load_users``. Every later frame starts
  from computed rows instead of re-running the geography, users and
  SCD2 lineage once per table that reads them. The other staging steps
  stay lazy.
- Each layer is written in ONE concurrent wave: ``_write_layers``
  clears the layer directories and submits every table write at once
  from a thread pool sized to the session's default parallelism, so
  small tables' jobs fill the cores a lone write leaves idle.
- Parquet lands exactly at the reference's layer boundaries (silver =
  OLTP-equivalent, gold = OLAP-equivalent, quarantine alongside
  silver). Gold is built from the silver files ON DISK, not the
  in-memory lineage — the same process boundary the reference crosses
  through postgres_fdw (06_connect_olap_to_oltp.sql:3-18): gold
  rebuilds never re-run ETL1, and a silver rewrite invalidates gold
  explicitly rather than silently flowing through.

Re-run semantics (SURVEY §1 quirks): every table here is a full
recompute + overwrite, so re-running the runner is idempotent for dims
and facts; the reference's append-only "re-ingest doubles observations"
behavior belongs to incremental ingest, which feeds new staging batches
through ``etl1.load_observations`` and APPENDS - the runner is the
full-rebuild path.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from insect_observation_data_pipeline_spark.etl import etl1, etl2
from insect_observation_data_pipeline_spark.sources.csv import read_csv_staging


def _write_layers(layers: dict[str, dict[str, DataFrame]]) -> None:
    """Write ``{layer_dir: {table: df}}`` as ``<layer_dir>/<table>.parquet``,
    every table concurrently. Raises the first failed write's error (in
    submission order) once every started write has ended."""
    # clear each WHOLE layer first (round-13 review): overwrite is
    # per-table, so a table renamed or dropped between runs left its
    # old directory behind and _read_layer then fed BOTH the stale and
    # the fresh frame downstream — the idempotent-rebuild contract is
    # per-LAYER
    for layer_dir in layers:
        if os.path.isdir(layer_dir):
            shutil.rmtree(layer_dir)
    writes = [
        (df, os.path.join(layer_dir, f"{name}.parquet"))
        for layer_dir, tables in layers.items()
        for name, df in tables.items()
    ]
    spark = writes[0][0].sparkSession
    # wrapped HERE, in the caller's thread: the writer threads run their
    # jobs under the caller's local properties (job group, description,
    # scheduler pool) and session tags, captured at wrap time
    write = inheritable_thread_target(spark)(
        lambda df, path: df.write.mode("overwrite").parquet(path)
    )
    pool = ThreadPoolExecutor(
        min(len(writes), spark.sparkContext.defaultParallelism)
    )
    try:
        futures = [pool.submit(write, df, path) for df, path in writes]
        for f in futures:
            f.result()
    finally:
        # on a failure, writes not yet started are dropped; the running
        # ones finish before the error leaves, so no writer thread
        # outlives the call
        pool.shutdown(wait=True, cancel_futures=True)


def _read_layer(spark: SparkSession, layer_dir: str) -> dict[str, DataFrame]:
    out: dict[str, DataFrame] = {}
    for entry in sorted(os.listdir(layer_dir)):
        if entry.endswith(".parquet"):
            out[entry.removesuffix(".parquet")] = spark.read.parquet(
                os.path.join(layer_dir, entry)
            )
    return out


def run_etl1(spark: SparkSession, raw_dir: str, warehouse: str) -> str:
    """CSV -> validated silver + quarantine, materialized under
    ``<warehouse>/silver`` and ``<warehouse>/quarantine``. Returns the
    silver dir."""
    inst_stg = read_csv_staging(
        spark,
        os.path.join(raw_dir, "institutions.csv"),
        etl1.INSTITUTIONS_COLS,
        defaults={"country": "United Kingdom"},
    )
    users_stg = read_csv_staging(
        spark,
        os.path.join(raw_dir, "users.csv"),
        etl1.USERS_COLS,
        # the reference's stg_users DDL default (03_ETL1_part2.sql:17):
        # the users batch also feeds the geography tables, so the
        # country column must exist
        defaults={"country": "United Kingdom"},
    )
    # MATERIALIZE the id-stamped staging frame (round-12 review +
    # follow-up): the observations silver and the observation quarantine
    # are separate write actions over it (concurrent, in one wave), so
    # without this the CSV scan + rule split re-ran once per reading
    # write (a full input scan each at the 100 TB posture), and — worse
    # — raw_data_id was re-ASSIGNED per action:
    # monotonically_increasing_id is deterministic only per (partition,
    # row-position), so any scan drift between the observations write
    # and the quarantine write silently breaks their id linkage.
    # localCheckpoint(eager), not persist: a persist-only pin is soft —
    # cached partitions lost to executor failure RECOMPUTE from the CSV
    # lineage and re-assign ids mid-run. The checkpoint cuts lineage,
    # so a lost block fails the run LOUDLY instead (a production
    # incremental pipeline stages the id-stamped frame to the
    # warehouse and re-reads it — the same barrier, restartable). The
    # reference's SERIAL is likewise run-scoped.
    obs_stg = (
        read_csv_staging(
            spark,
            os.path.join(raw_dir, "observations.csv"),
            etl1.OBSERVATIONS_COLS,
            encoding="ISO-8859-1",
        )
        .withColumn("raw_data_id", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )

    # the reference's PART BOUNDARIES (SURVEY §3: part 1 before part 2
    # before part 3, each reading the tables the previous one wrote),
    # checkpointed eagerly for the same reason as obs_stg: part 1's
    # geography + institutions feed part 2 and the part-2 geography,
    # users and user_institution feed part 3 and several silver tables,
    # so as lazy lineage every reading write re-ran them (6-25 jobs per
    # dimension table on a cold 2000-row rebuild). Surrogate keys are
    # deterministic hashes, so the cut changes no value.
    r1 = etl1.load_institutions(inst_stg)
    r1.silver = {k: df.localCheckpoint(eager=True) for k, df in r1.silver.items()}
    # r2's silver carries the UPDATED countries/counties/cities (users-
    # batch insert-if-absent additions) — the merge below replaces r1's
    r2 = etl1.load_users(users_stg, r1.silver)
    for k in ("users", "user_institution"):
        r2.silver[k] = r2.silver[k].localCheckpoint(eager=True)
    r3 = etl1.load_observations(
        obs_stg, r2.silver["users"], r2.silver["user_institution"]
    )
    silver = {**r1.silver, **r2.silver, **r3.silver}
    quarantine = {**r1.quarantine, **r2.quarantine, **r3.quarantine}

    silver_dir = os.path.join(warehouse, "silver")
    _write_layers(
        {silver_dir: silver, os.path.join(warehouse, "quarantine"): quarantine}
    )
    # no unpersist(): the frames are localCheckpoint-ed, not cached, and
    # Dataset.unpersist only consults the cache manager — checkpoint
    # blocks are held by the internal RDD and released when the
    # ContextCleaner GCs it after this function's references drop
    # (round-13 ADVICE close-out: the old finally-block unpersist() was
    # a no-op that implied surgical release this code never had)
    return silver_dir


def run_etl2(spark: SparkSession, warehouse: str) -> str:
    """Silver files on disk -> gold star schema under
    ``<warehouse>/gold``. Reads the MATERIALIZED silver layer (the FDW
    boundary analog), never in-memory lineage. Returns the gold dir."""
    silver = _read_layer(spark, os.path.join(warehouse, "silver"))
    gold = etl2.build_gold(silver)
    gold_dir = os.path.join(warehouse, "gold")
    _write_layers({gold_dir: gold})
    return gold_dir


def run_pipeline(spark: SparkSession, raw_dir: str, warehouse: str) -> dict[str, str]:
    """Full EP1 + EP2 rebuild. Returns layer directories."""
    run_etl1(spark, raw_dir, warehouse)
    run_etl2(spark, warehouse)
    return {
        "silver": os.path.join(warehouse, "silver"),
        "quarantine": os.path.join(warehouse, "quarantine"),
        "gold": os.path.join(warehouse, "gold"),
    }
