"""Operational entrypoints: EP1 (CSV -> silver) + EP2 (silver -> gold).

The transform layer is pure ``DataFrame -> DataFrame`` functions
(etl1/etl2); this runner adds the MATERIALIZATION policy from SURVEY §3:

- ETL1 runs as its dependency graph. Every frame that two or more
  later frames read is pinned WHERE IT IS BUILT: the runner passes
  ``materialize=`` an eager ``localCheckpoint`` to the etl1 transforms
  (the geography chain, institutions, the cleaned users staging,
  ``users``, the repaired observations and their lookups), so each
  shared intermediate is computed once instead of once per frame that
  reads it. Part 3's staging half (quarantine split, repairs, lookups)
  reads only the observations CSV, so it runs on a pool thread beside
  part 1 (institutions) -> part 2 (users + SCD2), and its attribution
  half joins the two branches once part 2 is done.
- Each layer is written in ONE concurrent wave: ``_write_layers``
  clears the layer directories and submits every table write at once
  to a thread pool sized to the session's default parallelism, so
  small tables' jobs fill the cores a lone write leaves idle. The
  observation branch and the write wave share one pool idiom,
  ``_thread_pool``: jobs keep the caller's job group, and no thread
  outlives the call.
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
from collections.abc import Callable, Iterator
from concurrent.futures import Future, ThreadPoolExecutor
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from insect_observation_data_pipeline_spark.etl import etl1, etl2
from insect_observation_data_pipeline_spark.sources.csv import read_csv_staging


@contextmanager
def _thread_pool(
    spark: SparkSession, workers: int
) -> Iterator[Callable[..., Future]]:
    """Yield ``submit(fn, *args)``, which runs ``fn`` on a pool thread
    and returns its future. On leaving the block every future's
    ``result()`` is read in submission order, so the first failed call
    raises its own error once every started call has ended.

    If the block itself raises, that error leaves only after every
    started call has ended too (a running call is not cancelled), and a
    failure of those calls is dropped: in ``run_etl1``, a bad
    institutions or users CSV is reported once the observation branch
    has finished its pass."""
    pool = ThreadPoolExecutor(workers)
    futures: list[Future] = []

    def submit(fn: Callable, *args) -> Future:
        # wrapped HERE, in the caller's thread: the pool thread runs its
        # jobs under the caller's local properties (job group,
        # description, scheduler pool) and session tags, captured at
        # wrap time
        futures.append(pool.submit(inheritable_thread_target(spark)(fn), *args))
        return futures[-1]

    try:
        yield submit
        for f in futures:
            f.result()
    finally:
        # on a failure, calls not yet started are dropped; the running
        # ones finish before the error leaves, so no pool thread
        # outlives the block
        pool.shutdown(wait=True, cancel_futures=True)


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
    workers = min(len(writes), spark.sparkContext.defaultParallelism)
    with _thread_pool(spark, workers) as submit:
        for df, path in writes:
            submit(df.write.mode("overwrite").parquet, path)


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

    # every shared intermediate is pinned where the transform builds it
    # (eagerly, for the same reason as obs_stg below): as lazy lineage
    # each frame reading it re-ran it — counties re-ran countries,
    # user_institution and user_subscription re-ran users, and each
    # lookup ran once for its own write and again for the observations
    # join. Surrogate keys are deterministic hashes, so a cut changes
    # no value.
    def pin(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True)

    def stage_observations() -> etl1.StagedObservations:
        # MATERIALIZE the id-stamped staging frame (round-12 review +
        # follow-up): the observations silver and the observation
        # quarantine are separate write actions over it (concurrent, in
        # one wave), so without this the CSV scan + rule split re-ran
        # once per reading write (a full input scan each at the 100 TB
        # posture), and — worse — raw_data_id was re-ASSIGNED per
        # action: monotonically_increasing_id is deterministic only per
        # (partition, row-position), so any scan drift between the
        # observations write and the quarantine write silently breaks
        # their id linkage. localCheckpoint(eager), not persist: a
        # persist-only pin is soft — cached partitions lost to executor
        # failure RECOMPUTE from the CSV lineage and re-assign ids
        # mid-run. The checkpoint cuts lineage, so a lost block fails
        # the run LOUDLY instead (a production incremental pipeline
        # stages the id-stamped frame to the warehouse and re-reads it —
        # the same barrier, restartable). The reference's SERIAL is
        # likewise run-scoped.
        obs_stg = pin(
            read_csv_staging(
                spark,
                os.path.join(raw_dir, "observations.csv"),
                etl1.OBSERVATIONS_COLS,
                encoding="ISO-8859-1",
            ).withColumn("raw_data_id", F.monotonically_increasing_id())
        )
        return etl1.stage_observations(obs_stg, materialize=pin)

    # the reference runs part 1 before part 2 before part 3 (SURVEY
    # §3), but only the attribution half of part 3 reads the users:
    # the observation staging half runs on a pool thread while part 1
    # and part 2 run here, and the two branches meet at attribution
    with _thread_pool(spark, 1) as submit:
        staged = submit(stage_observations)
        r1 = etl1.load_institutions(inst_stg, materialize=pin)
        # r2's silver carries the UPDATED countries/counties/cities
        # (users-batch insert-if-absent additions) — the merge below
        # replaces r1's
        r2 = etl1.load_users(users_stg, r1.silver, materialize=pin)
        r3 = etl1.attribute_observations(
            staged.result(), r2.silver["users"], r2.silver["user_institution"]
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
