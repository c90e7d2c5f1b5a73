"""Streaming write-side: maintain a keyed warehouse table from a stream.

``foreachBatch`` is Spark's bridge from a stream to batch-only sinks: per
micro-batch the handler gets an ordinary DataFrame and full batch APIs.
Here it maintains a last-value-per-key materialized view (the streaming
twin of the u1 upsert recompute):

- ORDER-AWARE merge, not arrival-order last-wins: the current state and
  the batch are unioned and reduced with ``distinct_on`` by the event
  order columns DESC. File-source micro-batches carry no ordering
  guarantee (a replay can deliver old files after new ones), so an
  upsert keyed on arrival would silently regress rows; keeping the
  max-order row per key is idempotent under any delivery order and under
  epoch replays (exactly-once effect from at-least-once delivery).
- State rewrite goes to a sibling dir then swaps into place
  (``_swap_dir``) — on a local filesystem that is two directory renames;
  on an object store use a transactional table format (Delta/Iceberg)
  instead, same handler shape.

State size = one row per key, read+rewritten per epoch: right for
dimension-scale keyed views (the use case). For event-scale state use
``applyInPandasWithState`` (streaming/stateful.py), which keeps state in
the state store instead of the warehouse.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from insect_observation_data_pipeline_spark.cache import unpersist_intermediates
from insect_observation_data_pipeline_spark.operators.dedupe import distinct_on

# the siblings of a directory swap, in recovery preference order: the
# complete replacement is written to `<live>.compacting`, and the live
# copy is parked at `<live>.compacted-old` while the replacement is
# renamed in (see _swap_dir)
_SWAP_SIBLINGS = (".compacting", ".compacted-old")


def merge_latest(
    current: DataFrame | None,
    batch: DataFrame,
    keys: list[str],
    order_by: list[Column],
) -> DataFrame:
    """Max-order row per key over current state + new batch."""
    merged = batch if current is None else current.unionByName(batch)
    return distinct_on(merged, list(keys), order_by)


def _data_files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return []
    return [
        f
        for f in os.listdir(path)
        if f.startswith("part-") and f.endswith(".parquet")
    ]


def _epoch_log_path(path: str) -> str:
    return path + "__epochlog.json"


def _epoch_log_read(path: str) -> dict | None:
    """The sink's single-file epoch log: the manifest of the most
    recent epoch's file-level writes. foreachBatch is at-least-once
    and retries only the FAILED epoch (earlier epochs committed their
    checkpoint), so one manifest is all replay recovery ever needs —
    the file self-prunes by replacement."""
    import json

    try:
        with open(_epoch_log_path(path)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _epoch_log_write(path: str, epoch_id: int, files: list[str],
                     complete: bool) -> None:
    """Atomically replace the epoch log (tmp + rename)."""
    import json

    log = _epoch_log_path(path)
    tmp = log + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {"epoch_id": epoch_id, "files": files, "complete": complete}, f
        )
    os.replace(tmp, log)


def _epoch_begin(path: str, epoch_id: int, spark=None,
                 tables: tuple[str, ...] = ()) -> bool:
    """Start-of-epoch replay protocol. Returns False when this epoch
    already COMPLETED (exact duplicate delivery — skip it entirely);
    otherwise rolls back any file-level writes a crashed attempt of
    THIS epoch recorded, clears stale staging dirs, and returns True.

    This is what upgrades the appending sinks from at-least-once to
    exactly-once: every append goes stage-dir -> record target names
    in the log -> move into the live dir, so any crash window either
    left only an (epoch-namespaced, deleted-here) staging dir or left
    target files the log knows how to delete. Single-writer assumption
    (one active streaming query per sink path) — Structured Streaming
    runs epochs sequentially.

    When ``spark`` is given, each directory a file was rolled back
    from gets its cached file listing dropped, and each name in
    ``tables`` (the sink's registered bucketed tables — whose cached
    relations refreshByPath does NOT invalidate) is refreshTable'd: a
    crash between the idx and bands appends leaves PUBLISHED index
    files that this same session may already have scanned, and without
    the refresh the replay's ``spark.table(index_table)`` reads the
    stale listing and dies FAILED_READ_FILE.FILE_NOT_EXIST until the
    session restarts (reproduced in
    tests/test_streaming.py::test_dedup_ingest_sink_replay_refreshes_rolled_back_index)."""
    import glob as _glob

    log = _epoch_log_read(path)
    if log and log.get("epoch_id") == epoch_id:
        if log.get("complete"):
            return False
        # refresh the dirs of ALL logged files, not only the ones THIS
        # call managed to remove: a rollback interrupted between the
        # remove loop and the refresh leaves files already deleted by
        # attempt 1 (os.remove now ENOENTs) whose stale cached listing
        # would otherwise survive into attempt 2's scan
        rolled_back = {os.path.dirname(f) for f in log.get("files", [])}
        for f in log.get("files", []):
            try:
                os.remove(f)
            except OSError:
                pass
        if spark is not None and rolled_back:
            for d in sorted(rolled_back):
                spark.catalog.refreshByPath(d)
            for t in tables:
                if spark.catalog.tableExists(t):
                    spark.catalog.refreshTable(t)
    for stale in _glob.glob(path + ".epoch-*.stage*"):
        shutil.rmtree(stale, ignore_errors=True)
    return True


def _publish_staged(stage_dir: str, live_dir: str, path: str,
                    epoch_id: int, files_so_far: list[str]) -> list[str]:
    """Move a staged write's data files into the live dir, recording
    the TARGET names in the epoch log BEFORE anything moves — a crash
    mid-move leaves only files the next replay's rollback deletes.
    Returns the updated cumulative file list."""
    targets = []
    moves = []
    for name in sorted(os.listdir(stage_dir)):
        if name.startswith((".", "_")):
            continue  # _SUCCESS / hidden markers stay behind
        src = os.path.join(stage_dir, name)
        dst = os.path.join(live_dir, name)
        moves.append((src, dst))
        targets.append(dst)
    files = files_so_far + targets
    _epoch_log_write(path, epoch_id, files, complete=False)
    if moves:  # an all-deduped epoch stages zero data files: creating
        # an empty live dir would break schema inference downstream
        os.makedirs(live_dir, exist_ok=True)
        for src, dst in moves:
            os.rename(src, dst)
    shutil.rmtree(stage_dir, ignore_errors=True)
    return files


def _stage_bucketed_append(
    spark,
    df: DataFrame,
    live_table: str,
    live_path: str,
    bucket_by: tuple[str, ...],
    sort_by: tuple[str, ...],
    num_buckets: int,
    sink_path: str,
    epoch_id: int,
    files: list[str],
    tag: str,
) -> list[str]:
    """Bucketed-table append through the epoch staging protocol: write
    a temp EXTERNAL bucketed table at a stage dir (bucket suffixes in
    the file names are what the bucketed scan requires — moving the
    files preserves them, the same property the compaction swap relies
    on), publish via :func:`_publish_staged`, then make sure the live
    table is registered and its cached file listing refreshed (manual
    file moves bypass the writer-side invalidation saveAsTable did)."""
    from insect_observation_data_pipeline_spark.sources.parquet import write_bucketed

    stage = f"{sink_path}.epoch-{epoch_id}.stage-{tag}"
    tmp_table = f"{live_table}__stage"
    spark.sql(f"DROP TABLE IF EXISTS `{tmp_table}`")
    shutil.rmtree(stage, ignore_errors=True)
    write_bucketed(
        df, tmp_table, bucket_by=bucket_by, num_buckets=num_buckets,
        sort_by=sort_by, mode="append", path=stage,
    )
    spark.sql(f"DROP TABLE IF EXISTS `{tmp_table}`")  # external: files stay
    files = _publish_staged(stage, live_path, sink_path, epoch_id, files)
    if _data_files(live_path):  # an all-deduped first epoch may have
        # published nothing — defer registration to the first real data
        _register_bucketed_table(
            spark, live_table, live_path, bucket_by, sort_by, num_buckets
        )
        spark.catalog.refreshTable(live_table)
    return files


def _swap_dir(live: str, write_replacement) -> None:
    """Replace the directory ``live`` with no instant at which no
    complete copy is on disk. ``write_replacement(dir)`` writes the full
    replacement to a sibling dir while the live files keep serving; then
    ``rename(live -> parked)`` + ``rename(replacement -> live)`` swap it
    in, and the parked copy is deleted. A crash between the two renames
    leaves ``live`` missing with both copies on disk, which
    :func:`_recover_crashed_swap` repairs by one rename. ``live`` need
    not exist yet (the first write of keyed state)."""
    new, old = (live + s for s in _SWAP_SIBLINGS)
    for stale in (new, old):  # crashed earlier attempt
        if os.path.exists(stale):
            shutil.rmtree(stale)
    write_replacement(new)
    parked = os.path.isdir(live)
    if parked:
        os.rename(live, old)
    os.rename(new, live)
    if parked:
        shutil.rmtree(old)


def _recover_crashed_swap(path: str) -> bool:
    """Restore a dir that a crash in :func:`_swap_dir`'s rename window
    left missing, by one rename, never a rebuild. Preference order: the
    replacement (the newer copy — it was complete before the first
    rename started), else the parked original. Returns True if a copy
    was restored; the other sibling is then deleted.

    For the dedup sink this is strictly cheaper than its
    rebuild-from-corpus fallback; for the scrub sinks it is the ONLY
    lossless path — stripped text cannot be recounted from the scrubbed
    corpus, so without it a crashed compaction silently forgot every
    learned key; for keyed state either copy converges, since replaying
    an epoch over state that already holds it changes nothing."""
    if os.path.isdir(path):
        return False
    siblings = [path + s for s in _SWAP_SIBLINGS]
    complete = [d for d in siblings if _data_files(d)]
    if not complete:
        return False
    os.rename(complete[0], path)
    for stale in siblings:
        if os.path.isdir(stale):
            shutil.rmtree(stale)
    return True


def _register_bucketed_table(
    spark,
    table: str,
    path: str,
    bucket_by: tuple[str, ...],
    sort_by: tuple[str, ...],
    num_buckets: int,
) -> None:
    """Register ALREADY-bucketed files at ``path`` as an external
    bucketed table — pure metadata, no rewrite. This is how a fresh
    session (or a fresh metastore) re-attaches to a sink a previous
    session built."""
    if spark.catalog.tableExists(table):
        return
    schema = spark.read.parquet(path).schema
    cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
    )
    bcols = ", ".join(f"`{c}`" for c in bucket_by)
    sorted_by = (
        "SORTED BY (" + ", ".join(f"`{c}`" for c in sort_by) + ") "
        if sort_by
        else ""
    )
    spark.sql(
        f"CREATE TABLE `{table}` ({cols}) USING parquet "
        f"CLUSTERED BY ({bcols}) {sorted_by}INTO {num_buckets} BUCKETS "
        f"LOCATION '{path}'"
    )


def _compact_bucketed_table(
    spark,
    path: str,
    table: str,
    bucket_by: tuple[str, ...],
    sort_by: tuple[str, ...],
    num_buckets: int,
) -> None:
    """Rewrite an external bucketed table's accumulated small per-epoch
    files into ~``num_buckets`` right-sized ones. Every epoch's append
    adds up to ``num_buckets`` tiny files per table; after thousands of
    epochs the index read cost is dominated by per-file overhead
    (footer + buffered chunk reads — measured ~15-25 KB per tiny file
    against ~200 B of logical data), and at cluster scale by namenode /
    object-store listing. The rewrite goes through :func:`_swap_dir`,
    so the live files keep serving until it is complete, and a crash in
    the rename window is repaired at the next epoch by
    :func:`_recover_crashed_swap`. The read is explicitly
    repartitioned on the bucket columns before the write: a plain
    scan→write carries no
    bucket-keyed operator, so Spark's auto-bucketed-scan falls back
    to file-split scanning and the write would inherit one task per
    small input file — emitting MORE files than it compacts
    (observed under a shared session). The repartition pins the task
    layout to exactly ``num_buckets`` hash partitions (same Murmur3
    hash as the bucket spec, so each task holds one whole bucket)
    and the output at <= ``num_buckets`` files, one index-sized
    shuffle every ~K epochs. The read goes through
    ``spark.read.parquet(path)`` — a PLAIN scan — rather than
    ``spark.table(table)``: over the bucketed table the scan can
    advertise the bucket HashPartitioning, which lets the planner
    elide the explicit repartition as redundant, and whether the
    physical scan then actually coalesces per-bucket is a
    session-dependent heuristic (auto-bucketed-scan) — the one
    observed flake left the rewrite at per-file task layout (7 files
    out of a 6-threshold compaction). A plain scan's partitioning is
    unknown to the planner, so the repartition always survives.

    This is threshold-triggered FULL rewrite — O(index) every ~K
    epochs, the right trade while the index is orders of magnitude
    smaller than the corpus. On an object store back the index with a
    transactional table format and use its incremental OPTIMIZE
    instead; the trigger point below is where it slots in."""
    from insect_observation_data_pipeline_spark.sources.parquet import write_bucketed

    tmp_table = table + "__compacting"

    def write(new_path: str) -> None:
        spark.sql(f"DROP TABLE IF EXISTS `{tmp_table}`")
        write_bucketed(
            spark.read.parquet(path).repartition(
                num_buckets, *[F.col(c) for c in bucket_by]
            ),
            tmp_table,
            bucket_by=bucket_by, num_buckets=num_buckets,
            sort_by=sort_by, mode="append", path=new_path,
        )
        spark.sql(f"DROP TABLE IF EXISTS `{tmp_table}`")  # external: files stay

    _swap_dir(path, write)
    # the catalog entry still points at `path`; drop the cached file
    # listing so the next scan sees the compacted files
    spark.catalog.refreshTable(table)


def _ensure_index_tables(
    spark,
    corpus_path: str,
    index_path: str,
    index_table: str,
    bands_path: str,
    bands_table: str,
    num_buckets: int,
    text_col: str,
    id_col: str,
) -> None:
    """Bring the dedup index to 'bucketed files on disk + registered in
    this session's catalog', whatever state disk and catalog are in:

    - either table's files MISSING (a crashed swap with no complete copy
      left, a first-epoch crash, a manual delete): rebuild both tables
      from the corpus — the index is derived state, so every crash
      window is recoverable;
    - files present, catalog entry missing (fresh session): register
      the existing files as external bucketed tables — metadata only,
      no rewrite.
    """
    from insect_observation_data_pipeline_spark.llm.dedup import (
        build_band_index,
        build_dedup_index,
    )
    from insect_observation_data_pipeline_spark.sources.parquet import write_bucketed

    fp, band = ("fp",), ("band_idx", "band_hash")
    if _data_files(index_path) and _data_files(bands_path):
        _register_bucketed_table(
            spark, index_table, index_path, fp, fp, num_buckets
        )
        _register_bucketed_table(
            spark, bands_table, bands_path, band, band, num_buckets
        )
        return
    for p in (index_path, bands_path):
        for stale in (p, *(p + s for s in _SWAP_SIBLINGS)):
            if os.path.exists(stale):
                shutil.rmtree(stale)
    for t in (index_table, bands_table):
        spark.sql(f"DROP TABLE IF EXISTS `{t}`")
    full = build_dedup_index(
        spark.read.parquet(corpus_path), text_col=text_col, id_col=id_col
    ).localCheckpoint(eager=True)
    write_bucketed(
        full, index_table, bucket_by=fp, num_buckets=num_buckets,
        sort_by=fp, mode="append", path=index_path,
    )
    write_bucketed(
        build_band_index(full), bands_table, bucket_by=band,
        num_buckets=num_buckets, sort_by=band, mode="append", path=bands_path,
    )


def dedup_ingest_sink(
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.2,
    index_buckets: int = 16,
    candidate_pushdown: int = 100_000,
    compact_file_threshold: int | None = None,
):
    """``foreachBatch`` handler growing a DEDUPLICATED corpus at ``path``
    — the streaming form of the training-data ingest loop. Per epoch:

    1. within-batch exact dedup (keeper = min id per content
       fingerprint) and within-batch near-dedup (MinHash-LSH pairs;
       the larger id of each verified pair is dropped — pairwise, not
       transitive closure: cheap, and any surviving chain member still
       blocks future arrivals via step 2);
    2. :func:`~insect_observation_data_pipeline_spark.llm.dedup.incremental_dedup`
       against the standing corpus (exact fingerprint hit, then
       cross-side LSH candidates verified with exact Jaccard);
    3. append the survivors.

    Exactly-once under epoch replay BY CONSTRUCTION, not by the
    fingerprint-duplicate argument (that holds only once the index
    append has landed — a crash between the corpus and index appends
    would make the replay re-append the whole epoch): every write goes
    through the epoch staging protocol (``_epoch_begin`` / ``_publish_staged``
    — stage dir, log target names, move), so a completed epoch's
    replay is skipped outright and a crashed attempt's partial files
    are rolled back before the recompute.

    The corpus-side state is the NARROW dedup index maintained as two
    EXTERNAL BUCKETED tables under ``<path>__index`` /
    ``<path>__bands`` (``build_dedup_index`` rows bucketed on the
    content fingerprint; ``build_band_index`` rows bucketed on the LSH
    band key). Step 2 runs against them
    (``incremental_dedup_indexed``), so per epoch the only full scans
    are the batch and the index — corpus TEXT pages are read just for
    the LSH candidate docs that need exact-Jaccard verification (the
    batch-bounded candidate-id set is pushed into the corpus scan as an
    ``In`` predicate, so parquet row-group stats/dictionaries skip
    every non-candidate row group's text IO; ``candidate_pushdown``
    caps the pushed set, falling back to a semi join past it), and
    because both index tables are bucketed on exactly their join keys,
    neither the exact-fingerprint semi join nor the band candidate join
    ever re-shuffles the (ever-growing) index: only the epoch's batch
    moves. That is what keeps epoch cost ~ batch size as the corpus
    grows to 100 TB; pinned empirically by the epoch-flatness test in
    ``tests/test_streaming.py`` (per-epoch filesystem bytes read stay
    ~flat while the corpus grows).

    SMALL-FILE control: each epoch's append adds up to
    ``index_buckets`` tiny files per index table; once a table's file
    count reaches ``compact_file_threshold`` (default
    ``index_buckets * 16``, i.e. roughly every 16 epochs; 0 disables)
    it is compacted back to ~``index_buckets`` files via the crash-safe
    swap in ``_compact_bucketed_table`` — unbounded epoch counts would
    otherwise drown the narrow index scans in per-file overhead."""
    from insect_observation_data_pipeline_spark.llm.dedup import (
        build_band_index,
        build_dedup_index,
        exact_groups,
        incremental_dedup_indexed,
        minhash_lsh_dedup,
    )

    index_path = f"{path}__index"
    bands_path = f"{path}__bands"
    # table names are path-scoped so independent sinks coexist in one
    # metastore; the data itself lives at the external paths above
    suffix = hashlib.md5(path.encode()).hexdigest()[:10]
    index_table = f"dedup_index_{suffix}"
    bands_table = f"dedup_bands_{suffix}"

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # exactly-once under foreachBatch's at-least-once replay (a
        # crash between the corpus append and the index append would
        # orphan the epoch's fingerprints, so a plain replay re-appends
        # every doc): completed epochs skip, crashed attempts roll back
        # their recorded file-level writes first
        if not _epoch_begin(path, epoch_id, spark,
                            tables=(index_table, bands_table)):
            return
        # cut lineage FIRST (the scrub sinks' idiom): batch_df feeds
        # the exact-keeper semi-join, the LSH pair generation, the
        # indexed incremental probe, and the final joins — without the
        # cut, every downstream action re-drives the stream source scan
        # per subtree
        batch_df = batch_df.localCheckpoint(eager=True)
        keepers = exact_groups(batch_df, text_col, id_col).select(
            F.col("keeper_id").alias(id_col)
        )
        batch = batch_df.join(keepers, id_col, "left_semi")
        # keep the TAGGED results in scope: minhash_lsh_dedup and
        # incremental_dedup_indexed persist corpus-scale intermediates
        # and tag them for the caller to release — chaining .select()
        # drops the tag attribute, and a long-running stream that never
        # releases them grows executor storage by ~5 cached frames per
        # epoch
        near_pairs = minhash_lsh_dedup(
            batch, text_col=text_col, id_col=id_col, threshold=threshold
        )
        near_losers = (
            near_pairs.select(F.col("doc_b").alias(id_col)).distinct()
        )
        batch = batch.join(near_losers, id_col, "left_anti")
        kept_flags = None
        # guard on DATA FILES, not the directory: a first-epoch crash
        # after _publish_staged leaves the live dir existing but EMPTIED
        # by the replay's rollback, and schema inference on an empty dir
        # fails identically on every retry — the stream would be stuck
        if _data_files(path):
            # a crashed compaction swap leaves the live index/bands
            # dir missing with a complete copy in a swap sibling —
            # restore BEFORE the tableExists gate below: with the
            # tables still registered in this session
            # _ensure_index_tables would not run, the index would scan
            # a missing location and read empty, every duplicate would
            # be re-admitted, and the next append would recreate the
            # dir, orphaning the stranded copy. On restore, drop the
            # registration so _ensure_index_tables re-attaches fresh
            # metadata — the scrub sinks' own recovery idiom.
            for p, t in (
                (index_path, index_table), (bands_path, bands_table)
            ):
                if _recover_crashed_swap(p):
                    spark.sql(f"DROP TABLE IF EXISTS `{t}`")
            corpus = spark.read.parquet(path)
            if not spark.catalog.tableExists(index_table) or not (
                spark.catalog.tableExists(bands_table)
            ):
                # repair/attach BEFORE the first append: missing files
                # -> rebuild from corpus; files in a fresh session ->
                # register, no rewrite
                _ensure_index_tables(
                    spark, path, index_path, index_table,
                    bands_path, bands_table, index_buckets,
                    text_col, id_col,
                )
            index = spark.table(index_table)
            band_index = spark.table(bands_table)
            kept_flags = incremental_dedup_indexed(
                index, corpus, batch,
                text_col=text_col, id_col=id_col, threshold=threshold,
                band_index=band_index,
                candidate_pushdown=candidate_pushdown,
            )
            kept = kept_flags.filter(F.col("keep")).select(
                F.col("doc_id").alias(id_col)
            )
            batch = batch.join(kept, id_col, "left_semi")
        # HARD lineage cut, not just a cache hint: the survivor set was
        # computed against the index tables as of epoch start, and the
        # writes below append to those same tables — a recompute through
        # the original plan mid-epoch would see the epoch's own rows and
        # judge every doc an exact duplicate (observed: the second
        # bucketed write recomputed past persist() and appended nothing).
        batch = batch.localCheckpoint(eager=True)
        # survivors are materialized — release the tagged per-epoch
        # intermediates now, or they leak cached frames for the
        # stream's lifetime
        unpersist_intermediates(near_pairs)
        if kept_flags is not None:
            unpersist_intermediates(kept_flags)
        # every append goes stage -> log target names -> move (see
        # _epoch_begin): a crash in ANY window is either an orphaned
        # epoch-namespaced stage dir or logged target files the replay
        # deletes before recomputing
        files: list[str] = []
        corpus_stage = f"{path}.epoch-{epoch_id}.stage-corpus"
        shutil.rmtree(corpus_stage, ignore_errors=True)
        batch.write.mode("overwrite").parquet(corpus_stage)
        files = _publish_staged(corpus_stage, path, path, epoch_id, files)
        spark.catalog.refreshByPath(path)
        new_index = build_dedup_index(
            batch, text_col=text_col, id_col=id_col
        ).persist()
        files = _stage_bucketed_append(
            spark, new_index, index_table, index_path,
            ("fp",), ("fp",), index_buckets, path, epoch_id, files, "idx",
        )
        files = _stage_bucketed_append(
            spark, build_band_index(new_index), bands_table, bands_path,
            ("band_idx", "band_hash"), ("band_idx", "band_hash"),
            index_buckets, path, epoch_id, files, "bands",
        )
        new_index.unpersist()
        # semantic writes are done: mark the epoch complete BEFORE the
        # (independently crash-safe) compaction below — a crash during
        # compaction must not make the replay re-append the epoch
        _epoch_log_write(path, epoch_id, files, complete=True)
        limit = (
            compact_file_threshold
            if compact_file_threshold is not None
            else index_buckets * 16
        )
        if limit and len(_data_files(index_path)) >= limit:
            _compact_bucketed_table(
                spark, index_path, index_table,
                ("fp",), ("fp",), index_buckets,
            )
        if limit and len(_data_files(bands_path)) >= limit:
            _compact_bucketed_table(
                spark, bands_path, bands_table,
                ("band_idx", "band_hash"), ("band_idx", "band_hash"),
                index_buckets,
            )

    return handle


def keyed_state_sink(
    path: str,
    keys: list[str],
    order_cols: list[str],
):
    """Build a ``foreachBatch`` handler maintaining last-row-per-key at
    ``path`` (parquet), ordered by ``order_cols`` (ties broken by the
    later column(s); pass a unique tiebreak for determinism).

    Crash-safe swap through :func:`_swap_dir` (deleting the live dir
    before renaming the replacement in would leave a window where a
    crash silently resets ALL keyed state to the replayed batch alone):
    the live dir is never deleted before the new copy is live, and
    recovery at the next epoch restores the completed replacement — or
    the parked original — before merging. Epoch replay is naturally
    idempotent here (last-per-key of an already-merged batch is a
    no-op), so restoring EITHER copy converges to the same state.
    """
    order_by = [F.col(c).desc() for c in order_cols]

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        _recover_crashed_swap(path)
        current = spark.read.parquet(path) if os.path.exists(path) else None
        merged = merge_latest(current, batch_df, keys, order_by)
        _swap_dir(path, merged.write.mode("overwrite").parquet)

    return handle


def _df_index_scrub_sink(
    path: str,
    *,
    key_col: str,
    index_suffix: str,
    table_prefix: str,
    stage_tag: str,
    batch_counts_fn,
    scrub_fn,
    text_col: str,
    id_col: str,
    min_df: int,
    index_buckets: int,
    compact_file_threshold: int | None,
    index_min_df: int = 1,
):
    """ONE definition of the df-index scrub-sink epoch skeleton shared
    by :func:`segment_scrub_sink` and :func:`span_scrub_sink` (a
    per-sink copy of the protocol lets a fix land in one sink and not
    the other — one scaffold makes every protocol fix apply to all
    sinks at once). Per epoch: exactly-once replay gate, lineage cut,
    ``batch_counts_fn(batch) -> (key_col, df)`` distinct-doc counts,
    crashed-swap recovery, cumulative df against the bucketed index,
    ``flagged = cum_df >= min_df``, ``scrub_fn(batch, flagged) ->
    (doc_id, __kept_text)``, staged corpus publish, bucketed count
    append, complete mark, threshold compaction.

    ``index_min_df`` bounds the index: only keys whose
    CUMULATIVE df has reached it persist — i.e. keys repeated within
    some single epoch, plus keys already in the index. Since most keys
    of a real corpus are singletons this shrinks the index by roughly
    the singleton fraction, at a precisely-stated cost: a key whose
    occurrences arrive one-per-epoch across separate epochs is never
    learned (the periodic batch form catches those; an index that
    remembered every singleton would too). The scrub OUTPUT of any
    single epoch never depends on the bound applied to THAT epoch's
    append (flagging precedes appending), so the one-epoch-run ==
    batch equivalence is exactly preserved. Default 1 = unbounded
    (every key persists).

    Crash-window guards (each pinned by a test on at least one sink):
    the standing-index branch keys on DATA FILES, not the directory —
    a first-epoch crash replay leaves an existing-but-EMPTIED index dir
    whose schema inference would fail identically on every retry; a
    registered-table scan over the emptied dir is safe (schema comes
    from the catalog) and _epoch_begin refreshed its listing."""
    if index_min_df > min_df:
        # incoherent: a key can be flagged and scrubbed THIS epoch
        # (cum_df >= min_df) yet never persisted (cum_df <
        # index_min_df), so later single occurrences of a key the
        # corpus has already seen min_df times escape scrubbing —
        # that's not a bounded index, it's a leaky one.
        # index_min_df <= min_df keeps the guarantee exact:
        # every key that ever flags is in the index from then on.
        raise ValueError(
            f"index_min_df={index_min_df} > min_df={min_df}: a flagged "
            "key would not persist to the index and later occurrences "
            "would escape scrubbing; use index_min_df <= min_df"
        )
    index_path = f"{path}{index_suffix}"
    suffix = hashlib.md5(path.encode()).hexdigest()[:10]
    index_table = f"{table_prefix}_{suffix}"

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # exactly-once under foreachBatch's at-least-once replay:
        # completed epochs skip, crashed attempts roll back their
        # logged file-level writes (with catalog refresh) first
        if not _epoch_begin(path, epoch_id, spark, tables=(index_table,)):
            return
        # cut lineage FIRST: the segmentation feeds both the df count
        # and the reassembly, and batch_df is joined again for the
        # append — all of it should read the materialized epoch, not
        # re-drive the stream source per subtree
        batch_df = batch_df.localCheckpoint(eager=True)
        # one (key, df) row per distinct batch key, persisted: it feeds
        # both the cum/flag lookup and the index append
        batch_counts = batch_counts_fn(batch_df).persist()
        # a crashed compaction swap leaves the live index dir missing
        # with the complete replacement stranded in `.compacting` —
        # restore it BEFORE the files-check: a lost index is
        # unrecoverable (stripped text can't be recounted from the
        # scrubbed corpus), so the rename is the only lossless path
        if _recover_crashed_swap(index_path):
            spark.sql(f"DROP TABLE IF EXISTS `{index_table}`")
        if _data_files(index_path) and not spark.catalog.tableExists(
            index_table
        ):
            _register_bucketed_table(
                spark, index_table, index_path,
                (key_col,), (key_col,), index_buckets,
            )
        if spark.catalog.tableExists(index_table):
            prior = spark.table(index_table)
            known = (
                prior.join(
                    batch_counts.select(key_col), key_col, "left_semi"
                )
                .groupBy(key_col)
                .agg(F.sum("df").alias("prior_df"))
            )
            cum = batch_counts.join(known, key_col, "left").select(
                key_col,
                (
                    F.col("df") + F.coalesce(F.col("prior_df"), F.lit(0))
                ).alias("cum_df"),
            )
        else:
            cum = batch_counts.select(
                key_col, F.col("df").cast("bigint").alias("cum_df")
            )
        flagged = cum.filter(F.col("cum_df") >= min_df).select(key_col)
        # bounded index: persist only keys at cum_df >= index_min_df —
        # batch-repeated keys plus keys the index already holds (their
        # prior_df > 0 lifts cum past the bound). Computed from the
        # SAME cum frame the flag derives from, before the append.
        if index_min_df > 1:
            append_counts = batch_counts.join(
                cum.filter(F.col("cum_df") >= index_min_df)
                .select(key_col),
                key_col,
                "left_semi",
            )
        else:
            append_counts = batch_counts
        cleaned = scrub_fn(batch_df, flagged)  # (doc_id, __kept_text)
        out = (
            batch_df.withColumnRenamed(text_col, "__orig")
            .join(
                cleaned.withColumnRenamed("doc_id", id_col), id_col, "left"
            )
            .withColumn(
                text_col, F.coalesce(F.col("__kept_text"), F.lit(""))
            )
            .select(*batch_df.columns)
        )
        # lineage cut BEFORE the index append below mutates the table
        # this epoch's scrub was computed against (the dedup_ingest_sink
        # lesson: a recompute past the append would double-count df)
        out = out.localCheckpoint(eager=True)
        files: list[str] = []
        corpus_stage = f"{path}.epoch-{epoch_id}.stage-corpus"
        shutil.rmtree(corpus_stage, ignore_errors=True)
        out.write.mode("overwrite").parquet(corpus_stage)
        files = _publish_staged(corpus_stage, path, path, epoch_id, files)
        spark.catalog.refreshByPath(path)
        files = _stage_bucketed_append(
            spark, append_counts, index_table, index_path,
            (key_col,), (key_col,), index_buckets,
            path, epoch_id, files, stage_tag,
        )
        batch_counts.unpersist()
        # mark complete BEFORE compaction (which is crash-safe on its
        # own): a crash mid-compaction must not replay the appends
        _epoch_log_write(path, epoch_id, files, complete=True)
        limit = (
            compact_file_threshold
            if compact_file_threshold is not None
            else index_buckets * 16
        )
        if limit and len(_data_files(index_path)) >= limit:
            _compact_bucketed_table(
                spark, index_path, index_table,
                (key_col,), (key_col,), index_buckets,
            )

    return handle


def segment_scrub_sink(
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 8,
    min_df: int = 2,
    index_buckets: int = 16,
    compact_file_threshold: int | None = None,
    index_min_df: int = 1,
):
    """``foreachBatch`` handler appending a BOILERPLATE-SCRUBBED corpus
    at ``path`` — the streaming form of x42's repeated-segment removal
    (llm/dedup.py segment_dedup; same ``doc_segments`` segmentation,
    so the two compose). Per epoch:

    1. segment the batch into ``seg_words``-word windows and count
       each distinct segment's batch document frequency;
    2. cumulative df = batch df + the standing per-segment counts in
       the index; every segment whose CUMULATIVE df reaches ``min_df``
       is stripped from the batch's documents before they append
       (when the whole corpus arrives as one epoch this reduces to
       exactly segment_dedup's batch answer — pinned by test);
    3. append the batch's per-segment doc counts to the index.

    Streaming-semantics note (the dedup sink's pairwise-not-transitive
    analogue): documents appended in EARLIER epochs keep a segment
    that only later crosses ``min_df`` — an append-only sink cannot
    retro-edit; what it guarantees is that once a segment is known
    boilerplate, no future document carries it in.

    The index is the narrow (seg_hash, df) relation as an EXTERNAL
    BUCKETED table at ``<path>__segdf`` (the FULL 128-bit md5 as 32 hex
    chars, never the segment text — at 100 TB the index stores
    fixed-width 16-byte digests, not boilerplate strings), bucketed on
    ``seg_hash``. 128 bits, not a 64-bit prefix: at billions of
    distinct segments a 64-bit key has birthday-plausible collisions,
    and a collision here silently strips an innocent segment — so the
    "one-epoch run == batch ``segment_dedup``" equivalence (which joins
    on exact segment text) holds only modulo hash collisions; at 128
    bits that probability is ~2^-60 even at 10^12 segments. The epoch's
    df-lookup join and count-append both align to the bucket layout,
    so the ever-growing index never re-shuffles — only the batch
    moves, the dedup_ingest_sink discipline. Per-segment totals are
    SUM over appended rows (one row per (epoch, segment)), compacted
    back to ~``index_buckets`` files past ``compact_file_threshold``
    (default ``index_buckets * 16``) via the crash-safe swap. Docs
    whose every segment is boilerplate append with ``text_col = ''``
    (they still block future dups by id); zero-token docs append with
    ``''`` too.

    ``index_min_df`` (the span sink's scale lever, made symmetric so
    both scrub sinks bound their index the same way): with 2, only segments whose cumulative df reached 2
    persist — the index shrinks from one row per distinct corpus
    segment (~1/seg_words of the tokens) to one per REPEATED segment,
    trading away cross-epoch singleton pairs exactly as documented on
    :func:`span_scrub_sink`; a one-epoch run still equals batch
    ``segment_dedup``. Default 1 = the exact unbounded index. Must be
    <= ``min_df`` (validated, see :func:`span_scrub_sink`).
    """
    from insect_observation_data_pipeline_spark.llm.dedup import (
        doc_segments,
        kept_text_agg,
    )

    def _segs(batch: DataFrame) -> DataFrame:
        return doc_segments(
            batch, text_col=text_col, id_col=id_col, seg_words=seg_words
        ).withColumn("seg_hash", F.md5(F.col("seg")))

    def batch_counts_fn(batch: DataFrame) -> DataFrame:
        return _segs(batch).groupBy("seg_hash").agg(
            F.count_distinct("doc_id").alias("df")
        )

    def scrub_fn(batch: DataFrame, boiler: DataFrame) -> DataFrame:
        # reassembly is segment_dedup's own aggregate (one definition:
        # a drift between the two would silently break the pinned
        # one-epoch == batch equivalence)
        return (
            _segs(batch)
            .join(
                boiler.withColumn("__boiler", F.lit(True)), "seg_hash", "left"
            )
            .groupBy("doc_id")
            .agg(kept_text_agg("__boiler").alias("__kept_text"))
        )

    return _df_index_scrub_sink(
        path,
        key_col="seg_hash",
        index_suffix="__segdf",
        table_prefix="segment_df",
        stage_tag="segdf",
        batch_counts_fn=batch_counts_fn,
        scrub_fn=scrub_fn,
        text_col=text_col,
        id_col=id_col,
        min_df=min_df,
        index_buckets=index_buckets,
        compact_file_threshold=compact_file_threshold,
        index_min_df=index_min_df,
    )


def span_scrub_sink(
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    anchor_words: int = 8,
    min_span_words: int = 16,
    min_df: int = 2,
    index_buckets: int = 16,
    compact_file_threshold: int | None = None,
    index_min_df: int = 1,
):
    """``foreachBatch`` handler appending a REPEATED-SPAN-SCRUBBED
    corpus at ``path`` — the streaming form of x52's cross-document
    exact repeated-span detection (llm/dedup.py ``repeated_spans`` /
    ``scrub_repeated_spans``; same ``doc_anchors`` segmentation and the
    same ``anchor_spans`` interval merge, so the batch and streaming
    forms compose). The segment-scrub sink strips ALIGNED fixed
    windows; this one removes UNALIGNED repeated regions at any token
    offset (the Lee et al. modality). Per epoch:

    1. hash every overlapping ``anchor_words``-token window of the
       batch and count each anchor's batch document frequency;
    2. cumulative df = batch df + the standing per-anchor counts in the
       index; anchors whose CUMULATIVE distinct-document count reaches
       ``min_df`` flag, and the shared interval merge turns flagged
       positions into maximal spans (>= ``min_span_words``) that are
       scrubbed from the batch's documents before they append — when
       the whole corpus arrives as one epoch this reduces EXACTLY to
       the batch ``scrub_repeated_spans`` answer (pinned by test,
       the segment sink's equivalence discipline);
    3. append the batch's per-anchor doc counts to the index.

    Append-only semantics (the segment sink's caveat verbatim):
    documents appended in EARLIER epochs keep a span that only later
    crosses ``min_df``; the guarantee is that once a span is known
    repeated, no future document carries it in.

    The index is the (anchor, df) relation as an EXTERNAL BUCKETED
    table at ``<path>__spandf`` — the full 128-bit md5 as 32 hex
    chars, never the window text (collision odds ~2^-60 at 10^12
    anchors, same budget as the segment index). The df-lookup join and
    the count append both align to the bucket layout, so the
    ever-growing index never re-SHUFFLES — only the epoch's batch
    moves. Exactly-once under replay via the epoch staging protocol
    (``_epoch_begin`` with catalog refresh / ``_publish_staged``);
    per-anchor totals are SUM over appended (epoch, anchor) rows,
    compacted past ``compact_file_threshold`` (default
    ``index_buckets * 16``) via the crash-safe swap.

    HONEST 100 TB posture, vs the other sinks: unaligned repeated-span
    detection is inherently TOKEN-granular — the UNBOUNDED index holds
    one row per distinct anchor, i.e. ~one per corpus token (the same
    reason Lee et al.'s suffix array is several times the text size),
    where the segment index is 1/seg_words of that and the dedup fp
    index is one row per DOCUMENT. Nothing re-shuffles per epoch, but
    the df-lookup semi join READS the whole (narrow, bucketed) index,
    so per-epoch scan cost grows with the corpus.

    ``index_min_df`` is the scale lever for exactly that:
    with ``index_min_df=2`` only anchors whose cumulative df reached 2
    persist — anchors repeated within some epoch, plus anchors already
    indexed — so the index shrinks from one row per distinct corpus
    anchor to one per REPEATED anchor (~the boilerplate fraction;
    measured 20.8x smaller on the sf0.001 documents corpus — 1,115 of
    23,172 distinct anchors have df >= 2 — pinned by test at a
    conservative >= 5x). Semantics under the bound, stated exactly: a
    one-epoch run still equals batch ``scrub_repeated_spans`` (flagging precedes
    appending, so an epoch's own output never depends on the bound),
    and within-epoch repeats are learned forever; what is given up is
    the cross-epoch SINGLETON pair — a span whose two occurrences
    arrive in different epochs, each unique within its own. The
    recommended large-corpus posture is therefore ``index_min_df=2``
    at ingest + a periodic batch ``scrub_repeated_spans`` pass to
    sweep cross-epoch stragglers (or the segment sink for streaming
    boilerplate control when aligned windows suffice); the posture is
    tested as a composition — bounded epochs containing a cross-epoch
    singleton, then one sweep, equals the all-at-once batch scrub
    (tests/test_streaming.py::
    test_large_corpus_posture_bounded_sink_plus_batch_sweep: the two
    halves passing alone do not show that they compose). Default 1 = the exact unbounded index.
    ``index_min_df`` must be <= ``min_df`` (validated): a larger value
    would let a key flag without persisting, so later occurrences of
    an already-over-threshold key would escape scrubbing."""
    from insect_observation_data_pipeline_spark.llm.dedup import (
        anchor_spans,
        doc_anchors,
        scrub_repeated_spans,
    )

    def _anchors(batch: DataFrame) -> DataFrame:
        return doc_anchors(
            batch, text_col=text_col, id_col=id_col,
            anchor_words=anchor_words,
        )

    def batch_counts_fn(batch: DataFrame) -> DataFrame:
        return _anchors(batch).groupBy("anchor").agg(
            F.count_distinct("doc_id").alias("df")
        )

    def scrub_fn(batch: DataFrame, flagged: DataFrame) -> DataFrame:
        spans = anchor_spans(
            _anchors(batch).join(flagged, "anchor", "left_semi"),
            anchor_words, min_span_words,
        )
        return scrub_repeated_spans(
            batch, text_col=text_col, id_col=id_col, spans=spans
        ).select("doc_id", F.col("kept_text").alias("__kept_text"))

    return _df_index_scrub_sink(
        path,
        key_col="anchor",
        index_suffix="__spandf",
        table_prefix="span_df",
        stage_tag="spandf",
        batch_counts_fn=batch_counts_fn,
        scrub_fn=scrub_fn,
        text_col=text_col,
        id_col=id_col,
        min_df=min_df,
        index_buckets=index_buckets,
        compact_file_threshold=compact_file_threshold,
        index_min_df=index_min_df,
    )
