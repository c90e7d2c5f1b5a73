from __future__ import annotations

import pytest

from insect_observation_data_pipeline_spark.streaming import (
    read_events_stream,
    run_batch_backfill,
    windowed_event_counts,
)

EVENTS = "/root/testdata/sf0.001/events.parquet"


def _await_stream(q, timeout_s: int) -> None:
    """Wait for an ``availableNow`` query to drain. Fails naming the
    query if it is still running after ``timeout_s`` (``awaitTermination``
    itself raises the query's own error if it failed), and stops it
    either way, so no query outlives its test."""
    try:
        assert q.awaitTermination(timeout_s), (
            f"streaming query {q.name or q.id} still running after {timeout_s} s"
        )
    finally:
        q.stop()


def test_stream_matches_batch_backfill(spark, tmp_path):
    """availableNow stream over the events parquet == batch backfill —
    the one-code-path property the window() formulation buys."""
    # the testdata events file has nanos timestamps Spark can't stream;
    # re-write a microsecond copy first (prod sources are us-precision).
    from insect_observation_data_pipeline_spark.sources.parquet import read_table

    src = str(tmp_path / "events_us.parquet")
    read_table(spark, "/root/testdata/sf0.001", "events").write.parquet(src)

    stream = read_events_stream(spark, src)
    assert stream.isStreaming
    agg = windowed_event_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("ev_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 120)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM ev_counts").collect()
    }
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in run_batch_backfill(spark, src).collect()
    }
    assert len(got) > 0
    assert got == expected


def test_windowed_rollup_matches_e1_query(spark):
    """Twin-drift guard (VERDICT r2 #7): the streaming rollup's
    transformation applied in batch must equal the oracle-checked
    e1_hourly_event_stats query — a 1-hour tumbling window() IS
    date_trunc('hour') on the window start. If either formulation
    changes semantics (window size, rounding, grouping), this breaks."""
    from insect_observation_data_pipeline_spark.functions.numeric import stable_round
    from insect_observation_data_pipeline_spark.queries.llm_testdata import (
        e1_hourly_event_stats,
    )
    from insect_observation_data_pipeline_spark.sources.parquet import read_table
    from pyspark.sql import functions as F

    events = read_table(spark, "/root/testdata/sf0.001", "events")
    twin = windowed_event_counts(events).select(
        "window_start",
        "event_type",
        "n_events",
        stable_round(F.col("sum_value"), 2).alias("sum_value"),
    )
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in twin.collect()
    }
    expected = {
        (r["hour_ts"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in e1_hourly_event_stats(spark, "/root/testdata/sf0.001").collect()
    }
    assert len(got) == len(expected) > 0
    assert got == expected


def test_sliding_window_stream_matches_e3_query(spark, tmp_path):
    """Sliding-window twin parity: the streamed 1h/30min rollup on
    replay == the oracle-checked e3 batch query."""
    from insect_observation_data_pipeline_spark.functions.numeric import stable_round
    from insect_observation_data_pipeline_spark.queries.llm_testdata import (
        e3_sliding_window_stats,
    )
    from insect_observation_data_pipeline_spark.sources.parquet import read_table
    from pyspark.sql import functions as F

    src = str(tmp_path / "events_slide.parquet")
    read_table(spark, "/root/testdata/sf0.001", "events").write.parquet(src)
    stream = read_events_stream(spark, src)
    q = (
        windowed_event_counts(stream, slide_duration="30 minutes")
        .writeStream.format("memory")
        .queryName("ev_slide")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 120)
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["sv"])
        for r in spark.sql(
            "SELECT * FROM ev_slide"
        )
        .select(
            "window_start",
            "event_type",
            F.col("n_events").alias("n"),
            stable_round(F.col("sum_value"), 2).alias("sv"),
        )
        .collect()
    }
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in e3_sliding_window_stats(spark, "/root/testdata/sf0.001").collect()
    }
    assert len(got) == len(expected) > 0
    assert got == expected


def _events_us(spark, tmp_path, name="events_us2"):
    from insect_observation_data_pipeline_spark.sources.parquet import read_table

    src = str(tmp_path / f"{name}.parquet")
    read_table(spark, "/root/testdata/sf0.001", "events").write.parquet(src)
    return src


def test_stateful_sessionization_stream_matches_batch_query(spark, tmp_path):
    """applyInPandasWithState sessionizer on a replayed stream == the
    batch lag()-gap sessionization query (e2)."""
    from insect_observation_data_pipeline_spark.queries.llm_testdata import e2_sessionization
    from insect_observation_data_pipeline_spark.streaming import sessionize_stateful

    src = _events_us(spark, tmp_path)
    stream = (
        spark.readStream.format("parquet")
        .schema(spark.read.parquet(src).schema)
        .load(src)
    )
    q = (
        sessionize_stateful(stream)
        .writeStream.format("memory")
        .queryName("sess_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 120)
    got = {
        r["user_id"]: (r["n_events"], r["n_sessions"])
        for r in spark.sql("SELECT * FROM sess_state").collect()
    }
    expected = {
        r["user_id"]: (r["n_events"], r["n_sessions"])
        for r in e2_sessionization(spark, "/root/testdata/sf0.001").collect()
    }
    assert len(got) > 0
    assert got == expected


def test_stateful_sessionization_batch_mode(spark):
    """Same operator applied to a batch DataFrame (backfill path)."""
    from insect_observation_data_pipeline_spark.queries.llm_testdata import e2_sessionization
    from insect_observation_data_pipeline_spark.sources.parquet import read_table
    from insect_observation_data_pipeline_spark.streaming import sessionize_stateful

    events = read_table(spark, "/root/testdata/sf0.001", "events")
    got = {
        r["user_id"]: (r["n_events"], r["n_sessions"])
        for r in sessionize_stateful(events).collect()
    }
    expected = {
        r["user_id"]: (r["n_events"], r["n_sessions"])
        for r in e2_sessionization(spark, "/root/testdata/sf0.001").collect()
    }
    assert got == expected


def test_advance_session_state_across_batch_boundary():
    """A session spanning a micro-batch boundary is not double-counted;
    a gap falling exactly on the boundary still opens a new session."""
    from insect_observation_data_pipeline_spark.streaming import advance_session_state

    gap = 600 * 1_000_000
    # batch 1: two events 1s apart -> one session
    st = advance_session_state(None, 0, 0, [0, 1_000_000], gap)
    assert st == (1_000_000, 1, 2)
    # batch 2 continues within the gap -> same session
    st = advance_session_state(*st, [2_000_000], gap)
    assert st == (2_000_000, 1, 3)
    # batch 3 starts beyond the gap -> new session
    st = advance_session_state(*st, [2_000_000 + gap + 1], gap)
    assert st == (2_000_000 + gap + 1, 2, 4)
    # exactly-at-gap is NOT a new session (strict > in the batch query)
    st2 = advance_session_state(0, 1, 1, [gap], gap)
    assert st2 == (gap, 1, 2)


def test_dedup_stream_removes_duplicates(spark, tmp_path):
    """Streaming dedup with watermark-bounded state drops replayed rows."""
    from insect_observation_data_pipeline_spark.streaming import dedup_stream

    src = _events_us(spark, tmp_path, "events_dup")
    # append the same file's rows again -> exact duplicates
    spark.read.parquet(src).write.mode("append").parquet(src)
    total = spark.read.parquet(src).count()
    distinct = spark.read.parquet(src).select("event_id").distinct().count()
    assert total == 2 * distinct

    stream = (
        spark.readStream.format("parquet")
        .schema(spark.read.parquet(src).schema)
        .load(src)
    )
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 120)
    got = spark.sql("SELECT count(*) AS n FROM dedup_out").collect()[0]["n"]
    assert got == distinct
    # batch path: plain dropDuplicates
    assert dedup_stream(spark.read.parquet(src)).count() == distinct


def test_dedup_ingest_sink_grows_clean_corpus(spark, tmp_path):
    """Streaming ingest dedup: within-batch exact + near dups collapse,
    later epochs are judged against the corpus the earlier ones built,
    and the survivors are the same whether the files arrive as one epoch
    or several (min-id keeper == first-arrival keeper by construction)."""
    from insect_observation_data_pipeline_spark.streaming import dedup_ingest_sink

    base1 = "the quick brown fox jumps over the lazy dog again and again"
    base3 = "completely different corpus text about spark engines at scale"
    uniq6 = "nothing like anything else in this tiny stream at all honestly"
    src = str(tmp_path / "incoming")
    corpus = str(tmp_path / "corpus")
    spark.createDataFrame(
        [
            (1, base1),
            (2, base1 + " with a tiny tail"),  # within-batch near-dup of 1
            (3, base3),
        ],
        "doc_id long, text string",
    ).write.parquet(src)
    spark.createDataFrame(
        [
            (4, "The  quick brown fox jumps over the lazy dog again and again"),
            (5, base3 + " plus one more word"),  # near-dup of corpus doc 3
            (6, uniq6),
        ],
        "doc_id long, text string",
    ).write.mode("append").parquet(src)

    stream = (
        spark.readStream.format("parquet")
        .schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)  # several epochs
        .load(src)
    )
    q = (
        stream.writeStream.foreachBatch(dedup_ingest_sink(corpus, threshold=0.2))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 180)
    ids = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    # exactly one survivor per duplicate group, whichever arrived first
    # (file mtime ties make epoch order environment-dependent)
    assert len(ids) == 3 and 6 in ids
    assert len(ids & {1, 2, 4}) == 1  # base1 family: near + exact dups
    assert len(ids & {3, 5}) == 1  # base3 family: near dup
    # the narrow index tracks the corpus exactly: one row per kept doc
    idx = spark.read.parquet(corpus + "__index")
    assert {r["doc_id"] for r in idx.select("doc_id").collect()} == ids
    assert {"fp", "n_sh", "minhash_0"} <= set(idx.columns)


def test_keyed_state_sink_matches_batch_upsert(spark, tmp_path):
    """foreachBatch keyed-state sink on a multi-epoch replay == the u1
    batch upsert recompute — order-aware merge, so file delivery order
    across micro-batches cannot regress rows."""
    from insect_observation_data_pipeline_spark.queries.testdata import u1_upsert_last_wins
    from insect_observation_data_pipeline_spark.streaming import keyed_state_sink

    src = _events_us(spark, tmp_path, "events_sink")
    state = str(tmp_path / "last_per_user_type.parquet")
    stream = (
        spark.readStream.format("parquet")
        .schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)  # force multiple epochs
        .load(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            keyed_state_sink(state, ["user_id", "event_type"], ["ts", "event_id"])
        )
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 120)
    got = {
        (r["user_id"], r["event_type"]): r["event_id"]
        for r in spark.read.parquet(state).collect()
    }
    expected = {
        (r["user_id"], r["event_type"]): r["last_event_id"]
        for r in u1_upsert_last_wins(spark, "/root/testdata/sf0.001").collect()
    }
    assert len(got) == len(expected) > 0
    assert got == expected


def test_merge_latest_delivery_order_invariant(spark):
    """The order-aware merge keeps the max-(ts, id) row per key no matter
    which batch arrives first — replayed/old files cannot regress state."""
    from insect_observation_data_pipeline_spark.streaming import merge_latest
    from pyspark.sql import functions as F

    new = spark.createDataFrame([(1, 200, "new")], "k int, ts int, v string")
    old = spark.createDataFrame([(1, 100, "old"), (2, 50, "only")], "k int, ts int, v string")
    order = [F.col("ts").desc()]
    fwd = merge_latest(merge_latest(None, old, ["k"], order), new, ["k"], order)
    rev = merge_latest(merge_latest(None, new, ["k"], order), old, ["k"], order)
    want = {(1, 200, "new"), (2, 50, "only")}
    assert {tuple(r) for r in fwd.collect()} == want
    assert {tuple(r) for r in rev.collect()} == want


def test_stream_stream_attribution_matches_batch(spark, tmp_path):
    """Watermarked stream-stream temporal join on replay == the same
    bounded-horizon predicate in batch."""
    from insect_observation_data_pipeline_spark.streaming import attribute_purchases

    src = _events_us(spark, tmp_path, "events_ss")
    batch = spark.read.parquet(src)
    b_purch = batch.filter("event_type = 'purchase'")
    b_sign = batch.filter("event_type = 'signup'")
    expected = {
        (r["purchase_id"], r["signup_ts"])
        for r in attribute_purchases(b_purch, b_sign).collect()
    }

    stream = (
        spark.readStream.format("parquet").schema(batch.schema).load(src)
    )
    s_purch = stream.filter("event_type = 'purchase'")
    s_sign = stream.filter("event_type = 'signup'")
    q = (
        attribute_purchases(s_purch, s_sign)
        .writeStream.format("memory")
        .queryName("ss_attr")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 120)
    got = {
        (r["purchase_id"], r["signup_ts"])
        for r in spark.sql("SELECT * FROM ss_attr").collect()
    }
    assert len(expected) > 0
    assert got == expected


def test_dedup_ingest_sink_chain_blocks_across_epochs(spark, tmp_path):
    """Cross-epoch near-dup chain semantics (the sink's documented
    pairwise-not-transitive contract): when B (a near-dup of A) is
    dropped in its arrival epoch, a LATER arrival carrying B's exact
    text must still be rejected — B's text is in neither the corpus nor
    the index, so the block has to come from the surviving chain member
    A via the LSH band join. Also asserts epoch replay is effectively
    exactly-once (re-running a batch appends nothing) and that the
    bucketed index tables track the corpus row-for-row."""
    import hashlib as _hl

    from insect_observation_data_pipeline_spark.streaming import dedup_ingest_sink

    a = "the quick brown fox jumps over the lazy dog again and again"
    b = a + " with a tiny tail"
    d = "nothing like anything else in this tiny stream at all honestly"
    corpus = str(tmp_path / "chain_corpus")
    handle = dedup_ingest_sink(corpus, threshold=0.2)

    def ids() -> set[int]:
        return {r["doc_id"] for r in spark.read.parquet(corpus).collect()}

    # epoch 0: A survives, B collapses onto it within-batch
    handle(
        spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string"), 0
    )
    assert ids() == {1}

    # epoch 1: doc 3 = B's EXACT text. Not an exact-fingerprint hit
    # (B never reached the corpus) — must be blocked as a near-dup of
    # the surviving chain member A. Doc 4 is unrelated and survives.
    batch1 = spark.createDataFrame(
        [(3, b), (4, d)], "doc_id long, text string"
    )
    handle(batch1, 1)
    assert ids() == {1, 4}

    # epoch 2: replay of epoch 1 (at-least-once delivery) — doc 4 is
    # now an exact-fingerprint hit, doc 3 still a near-dup: no growth.
    handle(batch1, 2)
    assert ids() == {1, 4}

    # the bucketed index state tracks the corpus exactly
    suffix = _hl.md5(corpus.encode()).hexdigest()[:10]
    idx = spark.table(f"dedup_index_{suffix}")
    bands = spark.table(f"dedup_bands_{suffix}")
    assert {r["doc_id"] for r in idx.select("doc_id").collect()} == {1, 4}
    assert {r["doc_id"] for r in bands.select("doc_id").distinct().collect()} == {1, 4}


def test_dedup_ingest_sink_fresh_session_reattaches_without_rewrite(
    spark, tmp_path
):
    """A fresh Spark session has an EMPTY in-memory catalog, but the
    sink's bucketed files are already on disk. Re-attaching must be
    metadata-only — register the existing files as external bucketed
    tables — not a full-index rewrite: the catalog is session-scoped,
    so keying a rewrite on tableExists would re-run it, and its crash
    window, on every restart. Simulated by dropping the catalog
    entries between epochs; the original data files must survive BY
    NAME and dedup must keep working."""
    import hashlib as _hl
    import os as _os

    from insect_observation_data_pipeline_spark.streaming import dedup_ingest_sink

    a = "the quick brown fox jumps over the lazy dog again and again"
    d = "nothing like anything else in this tiny stream at all honestly"
    corpus = str(tmp_path / "reattach_corpus")
    handle = dedup_ingest_sink(corpus, threshold=0.2)
    handle(
        spark.createDataFrame([(1, a)], "doc_id long, text string"), 0
    )
    suffix = _hl.md5(corpus.encode()).hexdigest()[:10]
    index_files = set(_os.listdir(f"{corpus}__index"))
    # fresh session: catalog forgets the tables, files remain
    spark.sql(f"DROP TABLE IF EXISTS `dedup_index_{suffix}`")
    spark.sql(f"DROP TABLE IF EXISTS `dedup_bands_{suffix}`")

    # doc 2 near-dups corpus doc 1 (band-index hit), doc 3 survives
    handle(
        spark.createDataFrame(
            [(2, a + " with a tiny tail"), (3, d)],
            "doc_id long, text string",
        ),
        1,
    )
    got = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert got == {1, 3}
    # register-only: every pre-existing index file is still there
    # (a rewrite would have replaced them with fresh uuid names)
    assert index_files <= set(_os.listdir(f"{corpus}__index"))
    idx = spark.table(f"dedup_index_{suffix}")
    assert {r["doc_id"] for r in idx.select("doc_id").collect()} == {1, 3}


def _rebuilds_missing_index_from_corpus(spark, tmp_path, removed):
    """Crash-window recovery: if either index directory is missing
    while the corpus exists (a crashed swap with no complete copy left,
    or a manual delete), the sink rebuilds index + bands FROM THE
    CORPUS — the corpus is the source of truth and the index is always
    derivable, so no crash loses dedup state permanently."""
    import hashlib as _hl
    import shutil as _sh

    from insect_observation_data_pipeline_spark.streaming import dedup_ingest_sink

    a = "the quick brown fox jumps over the lazy dog again and again"
    d = "nothing like anything else in this tiny stream at all honestly"
    corpus = str(tmp_path / "rebuild_corpus")
    handle = dedup_ingest_sink(corpus, threshold=0.2)
    handle(
        spark.createDataFrame([(1, a)], "doc_id long, text string"), 0
    )
    suffix = _hl.md5(corpus.encode()).hexdigest()[:10]
    for name in removed:
        _sh.rmtree(f"{corpus}__{name}")
    spark.sql(f"DROP TABLE IF EXISTS `dedup_index_{suffix}`")
    spark.sql(f"DROP TABLE IF EXISTS `dedup_bands_{suffix}`")

    # doc 2 is an exact dup of corpus doc 1; doc 3 a near-dup of it;
    # both only droppable through the REBUILT index
    handle(
        spark.createDataFrame(
            [(2, a), (3, a + " with a tiny tail"), (4, d)],
            "doc_id long, text string",
        ),
        1,
    )
    got = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert got == {1, 4}
    idx = spark.table(f"dedup_index_{suffix}")
    assert {r["doc_id"] for r in idx.select("doc_id").collect()} == {1, 4}


def test_dedup_ingest_sink_rebuilds_missing_index_from_corpus(
    spark, tmp_path
):
    _rebuilds_missing_index_from_corpus(spark, tmp_path, ("index", "bands"))


@pytest.mark.parametrize("removed", ["index", "bands"])
def test_dedup_ingest_sink_rebuilds_one_missing_index_dir(
    spark, tmp_path, removed
):
    """Either dir missing alone takes the same rebuild of both tables;
    a missing bands dir is not backfilled from the surviving index."""
    _rebuilds_missing_index_from_corpus(spark, tmp_path, (removed,))


def test_dedup_ingest_sink_recovers_from_crashed_compaction(spark, tmp_path):
    """Compaction crash-window recovery: a crash between the two swap
    renames leaves the index dir MISSING, with the rewrite stranded in
    `.compacting` and possibly the old files in `.compacted-old`. On
    the next epoch (fresh session — simulated by dropping the
    session-scoped tables) the sink must restore the stranded index by
    rename, sweep the stale compaction dirs, and keep deduping: an
    exact dup and a near-dup of pre-crash corpus docs are still
    rejected."""
    import hashlib as _hl
    import os as _os
    import shutil as _sh

    from insect_observation_data_pipeline_spark.streaming import dedup_ingest_sink

    a = "the quick brown fox jumps over the lazy dog again and again"
    d = "nothing like anything else in this tiny stream at all honestly"
    corpus = str(tmp_path / "crashcomp_corpus")
    handle = dedup_ingest_sink(corpus, threshold=0.2, index_buckets=2)
    handle(
        spark.createDataFrame([(1, a), (2, d)], "doc_id long, text string"), 0
    )
    suffix = _hl.md5(corpus.encode()).hexdigest()[:10]

    # crash mid-swap: index dir gone, rewrite stranded in .compacting,
    # previous files parked in .compacted-old; session died with it
    _sh.move(f"{corpus}__index", f"{corpus}__index.compacting")
    _os.mkdir(f"{corpus}__index.compacted-old")
    (tmp_path / "crashcomp_corpus__index.compacted-old" / "junk").write_text("x")
    spark.sql(f"DROP TABLE IF EXISTS `dedup_index_{suffix}`")
    spark.sql(f"DROP TABLE IF EXISTS `dedup_bands_{suffix}`")

    handle(
        spark.createDataFrame(
            [(3, a), (4, a + " with a tiny tail"),
             (5, "wholly new text about nothing seen before at all")],
            "doc_id long, text string",
        ),
        1,
    )
    got = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert got == {1, 2, 5}
    idx = spark.table(f"dedup_index_{suffix}")
    assert {r["doc_id"] for r in idx.select("doc_id").collect()} == {1, 2, 5}
    for sfx in (".compacting", ".compacted-old"):
        assert not _os.path.exists(f"{corpus}__index{sfx}")
        assert not _os.path.exists(f"{corpus}__bands{sfx}")


def test_ingest_sink_then_containment_policy_epoch_invariant(spark, tmp_path):
    """Composition of the two dedup policy layers: the streaming ingest
    sink (exact + MinHash near-dedup) grows the corpus, then the
    containment keep/drop policy (h3's operator) prunes subset docs
    from whatever survived. The combined final keep set must not depend
    on HOW the same arrivals were split into epochs — the sink's
    pairwise contract (a surviving chain member blocks future dups) and
    the policy's deterministic pairwise rule have to compose
    order-insensitively."""
    from insect_observation_data_pipeline_spark.llm.dedup import containment_keep
    from insect_observation_data_pipeline_spark.streaming import dedup_ingest_sink

    big = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    subset = "alpha beta gamma delta epsilon zeta eta theta"  # contained in big
    other = "one two three four five six seven eight nine ten eleven twelve"
    dup_of_big = big + " extra"
    rows = [(1, big), (2, subset), (3, other), (4, dup_of_big), (5, big)]

    def run(split: list[list[tuple[int, str]]], tag: str) -> frozenset[int]:
        corpus = str(tmp_path / f"compose_{tag}")
        handle = dedup_ingest_sink(corpus, threshold=0.2)
        for epoch, batch in enumerate(split):
            handle(
                spark.createDataFrame(batch, "doc_id long, text string"), epoch
            )
        survivors = spark.read.parquet(corpus)
        kept = containment_keep(survivors, threshold=0.6).filter("keep")
        return frozenset(r["doc_id"] for r in kept.collect())

    one_epoch = run([rows], "all")
    per_doc = run([[r] for r in rows], "each")
    two_epochs = run([rows[:2], rows[2:]], "pairs")
    assert one_epoch == per_doc == two_epochs
    # sanity on content: doc 1 survives both layers; 5 is an exact dup,
    # 4 a near-dup, and 2 is dropped by the containment layer
    assert 1 in one_epoch and one_epoch.isdisjoint({2, 4, 5})
    assert 3 in one_epoch


def _jvm_fs_bytes_read(spark) -> int:
    """Total bytes read through the Hadoop FileSystem layer in this JVM.
    local[n] runs every executor thread in the driver JVM, so the
    per-scheme Statistics aggregate ALL task input IO — parquet data
    pages, dictionary pages, and footers alike."""
    return sum(
        s.getBytesRead()
        for s in spark._jvm.org.apache.hadoop.fs.FileSystem.getAllStatistics()
    )


def _dir_bytes(path: str) -> int:
    import os as _os

    total = 0
    for root, _dirs, files in _os.walk(path):
        for f in files:
            total += _os.path.getsize(_os.path.join(root, f))
    return total


def test_dedup_ingest_sink_epoch_cost_flat_as_corpus_grows(spark, tmp_path):
    """Empirical pin of the sink's 100 TB claim: per-epoch SCAN VOLUME
    must not track corpus size. Constant-size batches (one near-dup of
    an early corpus doc each epoch to keep the candidate-verify path
    live, the rest unique ~2 KB docs) are ingested for several epochs;
    filesystem bytes read are measured around each ``handle`` call via
    the JVM-wide Hadoop FileSystem statistics. The corpus text grows
    linearly; the per-epoch read may grow only by the NARROW index (and
    per-file footers), so the read growth between an early and a late
    epoch must stay well under the corpus-text growth over the same
    span. Without the candidate-id pushdown into the corpus scan
    (``In`` filter -> row-group skipping) every epoch re-reads all
    corpus text pages and this assertion fails.

    Toy-scale calibration: docs are ~36 KB and ``index_buckets`` is 2
    so corpus TEXT bytes dominate the measurement. The other per-epoch
    reader is the narrow index (fp / signature / band scans), which at
    this scale carries heavy SMALL-FILE amplification — measured ~15-25
    KB read per tiny index file (footer + buffered column-chunk reads)
    against ~200 B of logical column data — a per-FILE constant that
    vanishes at production file sizes, so the test sizes text to dwarf
    it rather than pretending it is zero."""
    import random

    from insect_observation_data_pipeline_spark.streaming import dedup_ingest_sink

    rng = random.Random(7)

    def doc_text() -> str:
        return " ".join(f"{rng.getrandbits(32):08x}" for _ in range(4000))

    corpus = str(tmp_path / "flat_corpus")
    handle = dedup_ingest_sink(corpus, threshold=0.2, index_buckets=2)

    base_text = doc_text()  # doc 0: the standing near-dup target
    epochs = 8
    per_epoch_read: list[int] = []
    corpus_bytes_before: list[int] = []
    for e in range(epochs):
        rows = [(e * 1000 + i, doc_text()) for i in range(1, 15)]
        if e == 0:
            rows.append((0, base_text))
        else:
            # near-dup of doc 0, fresh id + tail each epoch: never an
            # exact hit, always an LSH candidate needing verification
            rows.append((e * 1000 + 99, base_text + f" tail{e}"))
        batch = spark.createDataFrame(
            rows, "doc_id long, text string"
        ).coalesce(1)  # one file per epoch: footer count grows slowly
        corpus_bytes_before.append(
            _dir_bytes(corpus) if e else 0
        )
        before = _jvm_fs_bytes_read(spark)
        handle(batch, e)
        per_epoch_read.append(_jvm_fs_bytes_read(spark) - before)

    # the near-dup was dropped every epoch after 0; uniques survived
    n_docs = spark.read.parquet(corpus).count()
    assert n_docs == 15 + (epochs - 1) * 14

    early, late = 2, epochs - 1
    text_growth = corpus_bytes_before[late] - corpus_bytes_before[early]
    read_growth = per_epoch_read[late] - per_epoch_read[early]
    assert per_epoch_read[early] > 0, per_epoch_read
    assert text_growth > 100_000, (text_growth, corpus_bytes_before)
    # a full-text rescan per epoch would make read_growth ~= text_growth
    assert read_growth < 0.35 * text_growth, (
        per_epoch_read,
        corpus_bytes_before,
    )


def test_dedup_ingest_sink_compacts_index_small_files(spark, tmp_path):
    """Small-file control: with a low compaction threshold, many epochs
    must keep the index/band file counts bounded (each epoch's append
    adds files; compaction rewrites the table back to ~bucket-count
    files via the crash-safe swap), while dedup semantics stay intact
    ACROSS a compaction: a near-dup of a doc ingested long before the
    last compaction is still rejected, an exact replay still appends
    nothing, and the index tracks the corpus row-for-row."""
    import hashlib as _hl
    import os as _os

    from insect_observation_data_pipeline_spark.streaming import dedup_ingest_sink
    from insect_observation_data_pipeline_spark.streaming.sink import _data_files

    corpus = str(tmp_path / "compact_corpus")
    threshold = 6
    handle = dedup_ingest_sink(
        corpus, threshold=0.2, index_buckets=2, compact_file_threshold=threshold
    )
    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the band index keeps growing one tiny file at a time"
    )
    epochs = 10
    max_seen = 0
    max_epoch_add = 0  # files one epoch's append adds (session-dependent:
    #                    the bucketed write's task count varies with the
    #                    shared fixture's shuffle state, so measure it)
    compactions = 0
    for e in range(epochs):
        rows = [
            (e * 100 + i, f"epoch {e} doc {i} unique text payload "
                          f"alpha{e} beta{i} gamma{e * 7 + i} delta epsilon")
            for i in range(1, 4)
        ]
        if e == 0:
            rows.append((0, base))
        counts_before = (
            len(_data_files(f"{corpus}__index")),
            len(_data_files(f"{corpus}__bands")),
        )
        handle(
            spark.createDataFrame(rows, "doc_id long, text string").coalesce(1),
            e,
        )
        counts_after = (
            len(_data_files(f"{corpus}__index")),
            len(_data_files(f"{corpus}__bands")),
        )
        for b, a in zip(counts_before, counts_after):
            if a >= b:
                max_epoch_add = max(max_epoch_add, a - b)
            else:
                compactions += 1
        max_seen = max(max_seen, *counts_after)
    # the count can reach threshold plus one epoch's append before the
    # post-epoch compaction runs, but never run away past that
    assert compactions >= 1, (max_seen, max_epoch_add)
    assert max_seen <= threshold + max_epoch_add, (max_seen, max_epoch_add)
    assert len(_data_files(f"{corpus}__index")) <= threshold, max_seen
    # no compaction debris
    for sfx in (".compacting", ".compacted-old"):
        assert not _os.path.exists(f"{corpus}__index{sfx}")
        assert not _os.path.exists(f"{corpus}__bands{sfx}")

    # near-dup of doc 0 (ingested epoch 0, long before the last
    # compaction) must still be caught through the compacted index
    handle(
        spark.createDataFrame(
            [(9901, base + " with a tiny tail"), (9902, "wholly new text "
              "about nothing seen before in this corpus at all")],
            "doc_id long, text string",
        ).coalesce(1),
        epochs,
    )
    ids = {r["doc_id"] for r in spark.read.parquet(corpus).select("doc_id").collect()}
    assert 9901 not in ids and 9902 in ids
    # exact replay appends nothing
    n_before = spark.read.parquet(corpus).count()
    handle(
        spark.createDataFrame(
            [(9903, base)], "doc_id long, text string"
        ).coalesce(1),
        epochs + 1,
    )
    assert spark.read.parquet(corpus).count() == n_before
    # index tracks corpus row-for-row after everything
    suffix = _hl.md5(corpus.encode()).hexdigest()[:10]
    idx_ids = {
        r["doc_id"]
        for r in spark.table(f"dedup_index_{suffix}").select("doc_id").collect()
    }
    assert idx_ids == ids


def test_incremental_indexed_pushes_candidate_ids_into_corpus_scan(
    spark, tmp_path
):
    """Plan-level twin of the epoch-flatness test: with
    ``candidate_pushdown`` on, the corpus parquet scan must carry the
    candidate ids as a pushed filter (row-group pruning), not feed an
    unpruned full scan into a semi join."""
    import hashlib as _hl

    from insect_observation_data_pipeline_spark.llm.dedup import (
        incremental_dedup_indexed,
    )
    from insect_observation_data_pipeline_spark.plans.inspect import (
        pushed_filters,
        read_schema_columns,
    )
    from insect_observation_data_pipeline_spark.streaming import dedup_ingest_sink

    corpus = str(tmp_path / "push_corpus")
    handle = dedup_ingest_sink(corpus, threshold=0.2)
    handle(
        spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog again and again"),
             (2, "completely different corpus text about spark engines at scale")],
            "doc_id long, text string",
        ),
        0,
    )
    suffix = _hl.md5(corpus.encode()).hexdigest()[:10]
    batch = spark.createDataFrame(
        [(9, "the quick brown fox jumps over the lazy dog again and again yes")],
        "doc_id long, text string",
    )
    out = incremental_dedup_indexed(
        spark.table(f"dedup_index_{suffix}"),
        spark.read.parquet(corpus),
        batch,
        band_index=spark.table(f"dedup_bands_{suffix}"),
        candidate_pushdown=1000,
    )
    # the corpus scan is the only file scan reading the text column
    scans = read_schema_columns(out)
    assert any("text" in cols for cols in scans), scans
    corpus_filters = pushed_filters(out, reading="text")
    assert any(
        ("In(doc_id" in f or "EqualTo(doc_id" in f) for f in corpus_filters
    ), corpus_filters
    # and the dedup verdict itself is unchanged by the pushdown
    got = {(r["doc_id"], r["keep"]) for r in out.collect()}
    assert got == {(9, False)}


def test_session_window_stream_matches_e5_query(spark, tmp_path):
    """Native session_window on a replayed stream (complete mode) == the
    batch e5 session-interval query: same intervals, same counts."""
    from insect_observation_data_pipeline_spark.queries.llm_testdata import (
        e5_session_window_stats,
    )
    from insect_observation_data_pipeline_spark.streaming import (
        read_events_stream,
        sessionized_event_counts,
    )

    src = _events_us(spark, tmp_path, "events_us_e5")
    q = (
        sessionized_event_counts(read_events_stream(spark, src))
        .writeStream.format("memory")
        .queryName("sess_native")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 120)
    got = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in spark.sql("SELECT * FROM sess_native").collect()
    }
    expected = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in e5_session_window_stats(spark, "/root/testdata/sf0.001").collect()
    }
    assert len(got) > 0
    assert got == expected


def _funnel_rows(df):
    return {
        r["user_id"]: (
            r["ts_view"], r["ts_click"], r["ts_purchase"], r["funnel_depth"]
        )
        for r in df.collect()
    }


def test_stateful_funnel_stream_matches_batch_query(spark, tmp_path):
    """applyInPandasWithState funnel on a replayed stream == the batch
    single-shuffle e6 cascade."""
    from insect_observation_data_pipeline_spark.queries.llm_testdata import e6_funnel_steps
    from insect_observation_data_pipeline_spark.streaming import funnel_stateful

    src = _events_us(spark, tmp_path, "events_funnel")
    stream = (
        spark.readStream.format("parquet")
        .schema(spark.read.parquet(src).schema)
        .load(src)
    )
    q = (
        funnel_stateful(stream)
        .writeStream.format("memory")
        .queryName("funnel_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 120)
    got = _funnel_rows(spark.sql(
        "SELECT * FROM funnel_state"
    ))
    expected = _funnel_rows(e6_funnel_steps(spark, "/root/testdata/sf0.001"))
    assert len(got) > 0
    assert got == expected


def test_stateful_funnel_batch_mode(spark):
    """Same operator applied to a batch DataFrame (backfill path)."""
    from insect_observation_data_pipeline_spark.queries.llm_testdata import e6_funnel_steps
    from insect_observation_data_pipeline_spark.sources.parquet import read_table
    from insect_observation_data_pipeline_spark.streaming import funnel_stateful

    events = read_table(spark, "/root/testdata/sf0.001", "events")
    got = _funnel_rows(funnel_stateful(events))
    expected = _funnel_rows(e6_funnel_steps(spark, "/root/testdata/sf0.001"))
    assert got == expected


def test_advance_funnel_state_across_batch_boundary():
    """A funnel spanning a micro-batch boundary continues, steps fire at
    most once, strictness and ts-equality rules match the batch query."""
    from insect_observation_data_pipeline_spark.streaming import advance_funnel_state

    # batch 1: view@10, click@10 (equal ts — strictness rejects it)
    st = advance_funnel_state(None, None, None, [(10, "click"), (10, "view")])
    assert st == (10, None, None)
    # batch 2: click@11 qualifies; purchase@11 equal-ts rejected
    st = advance_funnel_state(*st, [(11, "click"), (11, "purchase")])
    assert st == (10, 11, None)
    # batch 3: a second click@12 must NOT move the step; purchase@12 fires
    st = advance_funnel_state(*st, [(12, "click"), (12, "purchase")])
    assert st == (10, 11, 12)
    # completed funnels are frozen
    st = advance_funnel_state(*st, [(5, "purchase"), (13, "purchase")])
    assert st == (10, 11, 12)
    # a click with no view ever seen stays out of the funnel
    assert advance_funnel_state(
        None, None, None, [(3, "click"), (4, "purchase")]
    ) == (None, None, None)
    # state is MONOTONE (round-14): a cross-batch late view predating a
    # set t1 is dropped — moving t1 earlier would leave t2/t3 computed
    # against the old t1, a triple no batch replay can produce
    st = advance_funnel_state(None, None, None, [(10, "view"), (20, "click")])
    assert advance_funnel_state(*st, [(1, "view")]) == (10, 20, None)


def test_stateful_funnel_state_carries_across_real_microbatches(spark, tmp_path):
    """Cross-batch GroupState carry in actual Structured Streaming (the
    pure-fold test covers the logic; this pins the plumbing): the view
    arrives in micro-batch 1, the qualifying click and purchase in
    micro-batch 2 — the funnel must complete using state, and a user
    whose click arrived BEFORE any view must stay at depth 1."""
    import os as _os

    from insect_observation_data_pipeline_spark.streaming import funnel_stateful

    src = str(tmp_path / "funnel_batches")
    _os.makedirs(src)
    # batch files are ingested in file order with maxFilesPerTrigger=1
    b1 = [
        (1, "2024-01-01 10:00:00", 7, "view"),
        (2, "2024-01-01 10:00:30", 8, "click"),  # user 8: click first
    ]
    b2 = [
        (3, "2024-01-01 10:01:00", 7, "click"),
        (4, "2024-01-01 10:02:00", 7, "purchase"),
        (5, "2024-01-01 10:03:00", 8, "view"),
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    for i, rows in enumerate((b1, b2)):
        spark.createDataFrame(
            [(e, __import__("datetime").datetime.fromisoformat(t), u, y)
             for e, t, u, y in rows],
            schema,
        ).coalesce(1).write.parquet(f"{src}/b{i}")
        # the file source picks batches by modification time: pin
        # strictly increasing mtimes so b0 is always micro-batch 1
        # (same-second writes could otherwise tie)
        for root, _, files in _os.walk(f"{src}/b{i}"):
            for f in files:
                _os.utime(_os.path.join(root, f), (1000 + i, 1000 + i))
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(f"{src}/b*")
    )
    q = (
        funnel_stateful(stream)
        .writeStream.format("memory")
        .queryName("funnel_xbatch")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 120)
    # update mode appends one snapshot per key per batch: keep the last
    rows = spark.sql("SELECT * FROM funnel_xbatch").collect()
    # user 7 appears in BOTH batches -> two update-mode snapshots; a
    # single snapshot would mean everything ran as one micro-batch and
    # the state carry was never exercised
    assert sum(1 for r in rows if r["user_id"] == 7) == 2, rows
    # snapshots are monotone (slots only ever fill), so the most
    # advanced snapshot per user IS the final state — memory-sink row
    # order is not contractual, so don't rely on collect order
    last = {}
    for r in rows:
        cur = last.get(r["user_id"])
        if cur is None or r["funnel_depth"] > cur["funnel_depth"]:
            last[r["user_id"]] = r
    assert last[7]["funnel_depth"] == 3  # completed across the boundary
    assert last[7]["ts_click"] is not None and last[7]["ts_purchase"] is not None
    # user 8's click preceded its first view: never a qualified step 2
    assert last[8]["funnel_depth"] == 1 and last[8]["ts_click"] is None


def test_segment_scrub_sink_one_epoch_matches_batch_dedup(spark, tmp_path):
    """Whole corpus in one epoch == x42's batch segment_dedup answer:
    per doc, the appended text equals the batch operator's kept_text
    (same segmentation, same min_df rule, boilerplate counted within
    the epoch)."""
    from insect_observation_data_pipeline_spark.llm.dedup import segment_dedup
    from insect_observation_data_pipeline_spark.streaming.sink import (
        segment_scrub_sink,
    )

    boiler = "subscribe to our newsletter"
    rows = [
        (0, boiler + " alpha beta gamma delta"),
        (1, "iota kappa lam mu " + boiler),
        (2, boiler),
        (3, "rho sigma tau upsilon"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "scrubbed")
    handle = segment_scrub_sink(path, seg_words=4, min_df=2)
    handle(docs, 0)

    got = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(path).collect()
    }
    want = {
        r["doc_id"]: r["kept_text"]
        for r in segment_dedup(docs, seg_words=4, min_df=2).collect()
    }
    assert len(got) == 4
    for i, kept in want.items():
        assert got[i] == kept, i
    assert got[2] == ""  # all-boilerplate doc appended empty


def test_segment_scrub_sink_learns_across_epochs(spark, tmp_path):
    """A segment that crosses min_df only cumulatively is stripped
    from every LATER epoch (epoch-1 copies stay as written — the
    documented append-only boundary); the bucketed df index sums to
    the true cumulative counts, and a fresh-catalog session reattaches
    to the index files without rewriting them."""
    from insect_observation_data_pipeline_spark.streaming.sink import (
        _data_files,
        segment_scrub_sink,
    )

    boiler = "all rights reserved worldwide"
    path = str(tmp_path / "scrubbed")
    handle = segment_scrub_sink(path, seg_words=4, min_df=2)

    e1 = spark.createDataFrame(
        [(0, boiler + " unique alpha text one")], "doc_id long, text string"
    )
    handle(e1, 0)
    e2 = spark.createDataFrame(
        [(1, "unrelated beta prose here " + boiler),
         (2, "gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    handle(e2, 1)

    got = {
        r["doc_id"]: r["text"] for r in spark.read.parquet(path).collect()
    }
    assert boiler in got[0], "epoch-1 copy is immutable (append-only)"
    assert boiler not in got[1], "cumulative df=2 strips at epoch 2"
    assert got[2] == "gamma delta epsilon zeta"

    idx = spark.read.parquet(path + "__segdf")
    import hashlib as _h

    from pyspark.sql import functions as F

    bh = _h.md5(boiler.encode()).hexdigest()
    sums = {
        r["seg_hash"]: r["s"]
        for r in idx.groupBy("seg_hash").agg(F.sum("df").alias("s")).collect()
    }
    assert sums[bh] == 2

    # fresh catalog: drop the table, keep the files -> epoch 3 must
    # reattach (register, no rewrite) and keep stripping
    suffix = _h.md5(path.encode()).hexdigest()[:10]
    files_before = sorted(_data_files(path + "__segdf"))
    spark.sql(f"DROP TABLE IF EXISTS `segment_df_{suffix}`")
    e3 = spark.createDataFrame(
        # 4-word prefix keeps the boilerplate window-aligned (the
        # operator's documented alignment sensitivity)
        [(3, "eta theta pi omega " + boiler + " iota")],
        "doc_id long, text string",
    )
    handle(e3, 2)
    got3 = {
        r["doc_id"]: r["text"] for r in spark.read.parquet(path).collect()
    }
    assert boiler not in got3[3]
    assert set(files_before) <= set(sorted(_data_files(path + "__segdf"))), (
        "reattach must not rewrite existing index files"
    )


def test_segment_scrub_sink_real_microbatches(spark, tmp_path):
    """The scrub sink under ACTUAL Structured Streaming (the direct-
    handler tests cover semantics; this pins the foreachBatch plumbing
    and epoch ordering): boilerplate seen once in micro-batch 1 crosses
    min_df in micro-batch 2 and is stripped there, while batch 1's copy
    stays as appended — driven by a file source with pinned mtimes and
    maxFilesPerTrigger=1 so the batch split is guaranteed."""
    import hashlib as _h
    import os as _os

    from pyspark.sql import functions as F

    from insect_observation_data_pipeline_spark.streaming.sink import (
        segment_scrub_sink,
    )

    boiler = "click here to unsubscribe"
    src = str(tmp_path / "doc_batches")
    _os.makedirs(src)
    b1 = [(0, boiler + " alpha beta gamma delta")]
    b2 = [(1, "epsilon zeta eta theta " + boiler), (2, "iota kappa")]
    schema = "doc_id long, text string"
    for i, rows in enumerate((b1, b2)):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
        for root, _, files in _os.walk(f"{src}/b{i}"):
            for f in files:
                _os.utime(_os.path.join(root, f), (1000 + i, 1000 + i))

    out_path = str(tmp_path / "scrubbed_stream")
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(f"{src}/b*")
    )
    q = (
        stream.writeStream.foreachBatch(
            segment_scrub_sink(out_path, seg_words=4, min_df=2)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 120)

    got = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(out_path).collect()
    }
    assert len(got) == 3
    assert boiler in got[0], "first sighting appends as written"
    assert boiler not in got[1], "second sighting crosses min_df"
    assert got[1] == "epsilon zeta eta theta"
    assert got[2] == "iota kappa"
    bh = _h.md5(boiler.encode()).hexdigest()
    sums = {
        r["seg_hash"]: r["s"]
        for r in spark.read.parquet(out_path + "__segdf")
        .groupBy("seg_hash")
        .agg(F.sum("df").alias("s"))
        .collect()
    }
    assert sums[bh] == 2, "per-epoch counts must accumulate in the index"


def test_event_time_guard_accepts_ntz_frames(spark, tmp_path):
    """j14-class guard for the streaming surface (round-8 sweep):
    ``withWatermark`` rejects TIMESTAMP_NTZ exactly like ``unix_micros``
    did in j14, and a vanilla driver session infers NTZ from unannotated
    parquet — so every watermarked transform pins its event-time column
    via ``as_event_time`` first. This feeds NTZ frames through the
    whole watermarked family; without the guard each start()/plan
    analysis dies with DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE."""
    from pyspark.sql import functions as F

    from insect_observation_data_pipeline_spark.streaming.events import (
        as_event_time,
        windowed_event_counts,
    )
    from insect_observation_data_pipeline_spark.streaming.joins import (
        attribute_purchases,
    )
    from insect_observation_data_pipeline_spark.streaming.stateful import (
        dedup_stream,
    )

    def ntz_events(stream):
        return stream.select(
            F.col("value").alias("event_id"),
            F.col("timestamp").cast("timestamp_ntz").alias("ts"),
            (F.col("value") % 3).alias("user_id"),
            F.lit("view").alias("event_type"),
            F.col("value").cast("double").alias("value"),
        )

    # unit: the cast is dtype-only, never the instant (session tz UTC)
    batch = ntz_events(
        spark.range(3).select(
            F.col("id").alias("value"),
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias(
                "timestamp"
            ),
        )
    )
    pinned = as_event_time(batch, "ts")
    assert dict(pinned.dtypes)["ts"] == "timestamp"
    raw = [r["ts"] for r in batch.select("ts").collect()]
    got = [r["ts"] for r in pinned.select("ts").collect()]
    assert raw == got

    # streaming: analysis of every watermarked transform must succeed
    # on an NTZ event-time column (rate source -> cast to NTZ)
    rate = (
        spark.readStream.format("rate").option("rowsPerSecond", "5").load()
    )
    ev = ntz_events(rate)
    queries = [
        windowed_event_counts(ev)
        .writeStream.format("noop")
        .outputMode("update"),
        dedup_stream(ev).writeStream.format("noop").outputMode("append"),
        attribute_purchases(ev, ev)
        .writeStream.format("noop")
        .outputMode("append"),
    ]
    for i, w in enumerate(queries):
        q = w.option(
            "checkpointLocation", str(tmp_path / f"ntz_ckpt_{i}")
        ).start()  # raises AnalysisException here without the guard
        try:
            # rate never drains, so no processAllAvailable (it can't
            # catch up under a 200-partition vanilla session) — the
            # DATATYPE_MISMATCH fires at start()/first-batch planning,
            # so one progress tick with no exception is the assertion
            deadline = __import__("time").time() + 60
            while not q.recentProgress and __import__("time").time() < deadline:
                __import__("time").sleep(0.5)
            assert q.exception() is None
            assert q.recentProgress, "no micro-batch planned within 60s"
        finally:
            q.stop()


def test_segment_scrub_sink_recovers_crashed_compaction_swap(spark, tmp_path):
    """Crash-window recovery for the scrub index (round 8): a crash
    BETWEEN _compact_bucketed_table's two renames leaves the live
    index dir missing with the complete replacement stranded in
    `.compacting`. For this sink that state is otherwise
    unrecoverable — stripped boilerplate can't be recounted from the
    scrubbed corpus — so the next epoch must restore the stranded copy
    by rename (file-identical, no rebuild) and keep both the
    cumulative df counts and the stripping behavior."""
    import hashlib as _h
    import os
    import shutil

    from pyspark.sql import functions as F

    from insect_observation_data_pipeline_spark.streaming.sink import (
        _data_files,
        segment_scrub_sink,
    )

    boiler = "all rights reserved worldwide"
    path = str(tmp_path / "scrub_crash")
    idx = path + "__segdf"
    handle = segment_scrub_sink(path, seg_words=4, min_df=2)
    handle(
        spark.createDataFrame(
            [(0, boiler + " alpha beta gamma delta")],
            "doc_id long, text string",
        ),
        0,
    )
    handle(
        spark.createDataFrame(
            [(1, boiler + " epsilon zeta eta theta")],
            "doc_id long, text string",
        ),
        1,
    )
    files_before = sorted(_data_files(idx))

    # crash mid-swap: live dir gone, complete copy stranded in
    # `.compacting`, junk parked in `.compacted-old`; session restarts
    # (catalog forgets the table)
    os.rename(idx, idx + ".compacting")
    os.makedirs(idx + ".compacted-old")
    with open(idx + ".compacted-old/junk", "w") as f:
        f.write("x")
    suffix = _h.md5(path.encode()).hexdigest()[:10]
    spark.sql(f"DROP TABLE IF EXISTS `segment_df_{suffix}`")

    handle(
        spark.createDataFrame(
            [(2, "iota kappa mu nu " + boiler)],
            "doc_id long, text string",
        ),
        2,
    )
    got = {
        r["doc_id"]: r["text"] for r in spark.read.parquet(path).collect()
    }
    assert boiler not in got[2], "learned boilerplate survived the crash"
    assert got[2] == "iota kappa mu nu"
    # restored by rename: the pre-crash files are back verbatim (plus
    # epoch 3's append), never a from-scratch rewrite
    files_after = sorted(_data_files(idx))
    assert set(files_before) <= set(files_after)
    assert not os.path.exists(idx + ".compacting")
    assert not os.path.exists(idx + ".compacted-old")
    bh = _h.md5(boiler.encode()).hexdigest()
    sums = {
        r["seg_hash"]: r["s"]
        for r in spark.read.parquet(idx)
        .groupBy("seg_hash")
        .agg(F.sum("df").alias("s"))
        .collect()
    }
    assert sums[bh] == 3, "cumulative df must survive the crash"
    shutil.rmtree(path, ignore_errors=True)


def test_dedup_ingest_sink_recovers_swap_without_rebuild(spark, tmp_path):
    """The dedup sink prefers the one-rename recovery over its
    rebuild-from-corpus fallback when a crashed swap strands the
    complete index in `.compacting`: the pre-crash index files come
    back verbatim (a rebuild would write fresh part files) and dedup
    state is intact — an exact dup of a pre-crash doc is still
    dropped."""
    import os
    import shutil

    from insect_observation_data_pipeline_spark.streaming.sink import (
        _data_files,
        dedup_ingest_sink,
    )

    path = str(tmp_path / "dedup_crash")
    idx = path + "__index"
    handle = dedup_ingest_sink(path, threshold=0.2)
    handle(
        spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "an entirely different second document body")],
            "doc_id long, text string",
        ),
        0,
    )
    files_before = sorted(_data_files(idx))
    os.rename(idx, idx + ".compacting")
    import hashlib as _h

    suffix = _h.md5(path.encode()).hexdigest()[:10]
    for t in (f"dedup_index_{suffix}", f"dedup_bands_{suffix}"):
        spark.sql(f"DROP TABLE IF EXISTS `{t}`")

    handle(
        spark.createDataFrame(
            [(3, "the quick brown fox jumps over the lazy dog"),
             (4, "a genuinely novel third document appears here")],
            "doc_id long, text string",
        ),
        1,
    )
    ids = sorted(
        r["doc_id"] for r in spark.read.parquet(path).collect()
    )
    assert ids == [1, 2, 4], "pre-crash dedup state must survive"
    assert set(files_before) <= set(sorted(_data_files(idx))), (
        "recovery must be the rename, not a rebuild"
    )
    shutil.rmtree(path, ignore_errors=True)


def test_dedup_ingest_sink_exactly_once_under_replay(spark, tmp_path):
    """Round-9 fix, pinned: (a) a crash BETWEEN the corpus append and
    the index append no longer duplicates the epoch on replay — the
    epoch log rolls back the published corpus files before the
    recompute; (b) a duplicate delivery of a COMPLETED epoch is skipped
    outright."""
    import os

    import pytest

    from insect_observation_data_pipeline_spark.streaming import sink as sinkmod

    path = str(tmp_path / "corpus")
    handle = sinkmod.dedup_ingest_sink(path, threshold=0.2)
    b0 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "an entirely different second document body")],
        "doc_id long, text string",
    )
    handle(b0, 0)
    ids0 = sorted(r["doc_id"] for r in spark.read.parquet(path).collect())
    assert ids0 == [1, 2]

    # (a) crash after the corpus publish, before the index appends
    b1 = spark.createDataFrame(
        [(3, "a genuinely novel third document appears here")],
        "doc_id long, text string",
    )
    real_stage = sinkmod._stage_bucketed_append
    calls = {"n": 0}

    def crash_on_index(*a, **k):
        calls["n"] += 1
        raise RuntimeError("injected crash before index append")

    sinkmod._stage_bucketed_append = crash_on_index
    try:
        with pytest.raises(RuntimeError):
            handle(b1, 1)
    finally:
        sinkmod._stage_bucketed_append = real_stage
    assert calls["n"] == 1
    # the crashed attempt's corpus files are on disk right now...
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(path).collect()
    ) == [1, 2, 3]
    # ...but the replay rolls them back and re-runs: no duplicates
    handle(b1, 1)
    rows = spark.read.parquet(path).collect()
    ids1 = sorted(r["doc_id"] for r in rows)
    assert ids1 == [1, 2, 3], ids1

    # (b) duplicate delivery of the completed epoch: skipped
    handle(b1, 1)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(path).collect()
    ) == [1, 2, 3]
    # and the index holds exactly one fp row per corpus doc
    idx = spark.read.parquet(path + "__index")
    assert idx.count() == 3
    import shutil as _sh

    _sh.rmtree(path, ignore_errors=True)


def test_segment_scrub_sink_replay_does_not_double_count_df(spark, tmp_path):
    """Round-9 fix, pinned: replaying a completed epoch must not append
    the segment counts a second time — a df=1 segment falsely summing
    to 2 would be stripped as boilerplate from every later document."""
    from pyspark.sql import functions as F

    from insect_observation_data_pipeline_spark.streaming.sink import (
        segment_scrub_sink,
    )

    path = str(tmp_path / "scrubbed")
    handle = segment_scrub_sink(path, seg_words=4, min_df=2)
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta unique tail one"),
         (2, "wholly different words for the second doc")],
        "doc_id long, text string",
    )
    handle(docs, 0)
    handle(docs, 0)  # duplicate delivery: must be a no-op
    idx = spark.read.parquet(path + "__segdf")
    assert idx.agg(F.max("df")).collect()[0][0] == 1
    assert spark.read.parquet(path).count() == 2

    # a later epoch reusing doc 1's opening segment crosses min_df via
    # REAL occurrences only, proving the counts stayed correct
    later = spark.createDataFrame(
        [(3, "alpha beta gamma delta then new material here")],
        "doc_id long, text string",
    )
    handle(later, 1)
    got = {r["doc_id"]: r["text"] for r in spark.read.parquet(path).collect()}
    assert "alpha beta gamma delta" not in got[3]  # stripped at df=2


def _keyed_state_recovers_crashed_swap(spark, tmp_path, survivor):
    """A crash between parking the live state dir and renaming the
    replacement in must NOT reset keyed state: the next epoch restores
    whichever copy survives — the parked original (`.compacted-old`)
    or the complete replacement (`.compacting`) — and merges on top."""
    import os

    from insect_observation_data_pipeline_spark.streaming.sink import (
        keyed_state_sink,
    )

    path = str(tmp_path / "state")
    handle = keyed_state_sink(path, keys=["k"], order_cols=["ts"])
    handle(
        spark.createDataFrame([("a", 1, "va1"), ("b", 1, "vb1")],
                              "k string, ts int, v string"),
        0,
    )
    # simulate the crash window: live dir missing, one copy survives
    os.rename(path, path + survivor)
    handle(
        spark.createDataFrame([("b", 2, "vb2")], "k string, ts int, v string"),
        1,
    )
    got = {r["k"]: (r["ts"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {"a": (1, "va1"), "b": (2, "vb2")}, got


def test_keyed_state_sink_recovers_crashed_swap(spark, tmp_path):
    _keyed_state_recovers_crashed_swap(spark, tmp_path, ".compacted-old")


def test_keyed_state_sink_recovers_crashed_swap_from_replacement(
    spark, tmp_path
):
    _keyed_state_recovers_crashed_swap(spark, tmp_path, ".compacting")


def test_dedup_ingest_sink_recovers_first_epoch_crash(spark, tmp_path):
    """Round-9 ADVICE, pinned: a crash in the FIRST epoch after the
    corpus publish leaves the live dir existing but EMPTIED by the
    replay's rollback — guarding the standing-corpus branch on
    os.path.exists made schema inference on the empty dir fail
    identically on every retry, permanently sticking the stream. The
    guard must read data files, not the directory."""
    import pytest

    from insect_observation_data_pipeline_spark.streaming import sink as sinkmod

    path = str(tmp_path / "corpus")
    handle = sinkmod.dedup_ingest_sink(path, threshold=0.2)
    b0 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "an entirely different second document body")],
        "doc_id long, text string",
    )
    real_stage = sinkmod._stage_bucketed_append

    def crash_on_index(*a, **k):
        raise RuntimeError("injected crash before first index append")

    sinkmod._stage_bucketed_append = crash_on_index
    try:
        with pytest.raises(RuntimeError):
            handle(b0, 0)
    finally:
        sinkmod._stage_bucketed_append = real_stage
    import os

    assert os.path.isdir(path)  # the crash window this test is about
    # replay of epoch 0 must roll back to an EMPTY-but-present dir and
    # still complete (and every later epoch keeps working)
    handle(b0, 0)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(path).collect()
    ) == [1, 2]
    handle(
        spark.createDataFrame(
            [(3, "a genuinely novel third document appears here")],
            "doc_id long, text string",
        ),
        1,
    )
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(path).collect()
    ) == [1, 2, 3]


def test_dedup_ingest_sink_replay_refreshes_rolled_back_index(
    spark, tmp_path
):
    """Round-9 ADVICE, pinned: a crash BETWEEN the idx and bands
    appends rolls back PUBLISHED index files at replay; without
    dropping the session catalog's cached file listing for the
    rolled-back dirs, the same-session replay's spark.table(index)
    scan reads the stale listing and dies with FileNotFoundException
    until the session restarts."""
    import pytest

    from insect_observation_data_pipeline_spark.streaming import sink as sinkmod

    path = str(tmp_path / "corpus")
    handle = sinkmod.dedup_ingest_sink(path, threshold=0.2)
    handle(
        spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "an entirely different second document body")],
            "doc_id long, text string",
        ),
        0,
    )
    b1 = spark.createDataFrame(
        [(3, "a genuinely novel third document appears here")],
        "doc_id long, text string",
    )
    real_stage = sinkmod._stage_bucketed_append

    def crash_on_bands(*a, **k):
        tag = k.get("tag", a[-1] if a else None)
        if tag == "bands":
            raise RuntimeError("injected crash between idx and bands")
        return real_stage(*a, **k)

    sinkmod._stage_bucketed_append = crash_on_bands
    try:
        with pytest.raises(RuntimeError):
            handle(b1, 1)
    finally:
        sinkmod._stage_bucketed_append = real_stage
    # a reader scanning the index between the crash and the replay
    # repopulates the session's cached file listing WITH the doomed
    # epoch-1 files (reproduced: without the rollback refresh the
    # replay dies FAILED_READ_FILE.FILE_NOT_EXIST on exactly this
    # sequence)
    import hashlib

    index_table = (
        f"dedup_index_{hashlib.md5(path.encode()).hexdigest()[:10]}"
    )
    assert spark.table(index_table).count() == 3  # 2 standing + 1 doomed
    # same-session replay: epoch 1's published idx files are rolled
    # back; the scan through the registered table must see the fresh
    # listing, not the deleted files
    handle(b1, 1)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(path).collect()
    ) == [1, 2, 3]
    assert spark.read.parquet(path + "__index").count() == 3


def test_span_scrub_sink_one_epoch_matches_batch_scrub(spark, tmp_path):
    """The streaming span scrubber reduces EXACTLY to the batch
    scrub_repeated_spans answer when the whole corpus arrives as one
    epoch (the segment sink's equivalence discipline), and the index
    holds one df row per distinct batch anchor."""
    from pyspark.sql import functions as F

    from insect_observation_data_pipeline_spark.llm.dedup import (
        scrub_repeated_spans,
    )
    from insect_observation_data_pipeline_spark.streaming.sink import span_scrub_sink

    shared = " ".join(f"s{i}" for i in range(20))
    rows = [
        (1, shared + " a0 a1 a2 a3"),
        (2, "b0 b1 b2 b3 b4 b5 " + shared),
        (3, "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9"),
        (4, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "scrubbed")
    handle = span_scrub_sink(path, anchor_words=4, min_span_words=8)
    handle(docs, 0)
    got = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(path).collect()
    }
    want = {
        r["doc_id"]: r["kept_text"]
        for r in scrub_repeated_spans(
            docs, anchor_words=4, min_span_words=8
        ).collect()
    }
    assert got == want, (got, want)
    assert got[1] == "a0 a1 a2 a3" and got[2] == "b0 b1 b2 b3 b4 b5"
    idx = spark.read.parquet(path + "__spandf")
    # df counts DISTINCT docs: the shared block's anchors are 2, all
    # unique anchors 1 — nothing counts positions or epochs
    assert idx.agg(F.max("df")).collect()[0][0] == 2
    assert (
        idx.filter(F.col("df") == 2).count()
        == len(shared.split(" ")) - 4 + 1  # one anchor per span position
    )
    assert idx.filter(F.length("anchor") != 32).count() == 0


def test_span_scrub_sink_learns_across_epochs_and_replays_once(
    spark, tmp_path
):
    """Cross-epoch semantics + exactly-once: (a) a span unique in epoch
    0 is kept; (b) an epoch-1 doc REUSING it crosses min_df via the
    cumulative index and is scrubbed (the epoch-0 doc stays as
    appended — append-only); (c) duplicate delivery of a completed
    epoch is a no-op, so df counts never double and a later unique doc
    is not falsely scrubbed."""
    from insect_observation_data_pipeline_spark.streaming.sink import span_scrub_sink

    span = " ".join(f"z{i}" for i in range(12))
    path = str(tmp_path / "scrubbed")
    handle = span_scrub_sink(path, anchor_words=4, min_span_words=10)
    e0 = spark.createDataFrame(
        [(1, span + " tail0 tail1"),
         (2, "other words entirely here nothing shared at all")],
        "doc_id long, text string",
    )
    handle(e0, 0)
    handle(e0, 0)  # duplicate delivery: must be a no-op
    got0 = {r["doc_id"]: r["text"] for r in spark.read.parquet(path).collect()}
    assert got0[1] == span + " tail0 tail1"  # unique so far: kept
    assert len(got0) == 2

    e1 = spark.createDataFrame(
        [(3, "lead0 lead1 " + span + " tail2")],
        "doc_id long, text string",
    )
    handle(e1, 1)
    got1 = {r["doc_id"]: r["text"] for r in spark.read.parquet(path).collect()}
    assert span not in got1[3]  # cumulative df=2: scrubbed on arrival
    assert got1[3].startswith("lead0 lead1")
    assert got1[1] == span + " tail0 tail1"  # append-only: untouched


def test_segment_scrub_sink_bounded_index(spark, tmp_path):
    """index_min_df=2 on the segment sink (round-11 symmetry with the
    span sink): one-epoch run still equals batch segment_dedup, the
    index persists exactly the df>=2 segments, and a within-epoch
    repeat is learned for later epochs while a cross-epoch singleton
    pair is (documentedly) not."""
    from pyspark.sql import functions as F

    from insect_observation_data_pipeline_spark.llm.dedup import segment_dedup
    from insect_observation_data_pipeline_spark.streaming.sink import (
        segment_scrub_sink,
    )

    boiler = "b0 b1 b2 b3"
    cross = "c0 c1 c2 c3"
    e0 = spark.createDataFrame(
        [
            (1, boiler + " u0 u1 u2 u3"),
            (2, boiler + " v0 v1 v2 v3"),
            (3, cross + " w0 w1 w2 w3"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "scrubbed_seg_bounded")
    handle = segment_scrub_sink(path, seg_words=4, min_df=2, index_min_df=2)
    handle(e0, 0)
    got = {r["doc_id"]: r["text"] for r in spark.read.parquet(path).collect()}
    want = {
        r["doc_id"]: r["kept_text"]
        for r in segment_dedup(e0, seg_words=4, min_df=2).collect()
    }
    assert got == want  # one-epoch == batch, unaffected by the bound
    idx = spark.read.parquet(path + "__segdf")
    # only the repeated boiler segment persisted (df>=2), none of the
    # 7 singleton segments
    assert idx.count() == 1
    assert idx.agg(F.max("df")).collect()[0][0] == 2

    # epoch 1: learned boiler still strips; the cross-epoch singleton
    # pair does not (each occurrence unique within its epoch)
    e1 = spark.createDataFrame(
        [(4, boiler + " x0 x1 x2 x3"), (5, cross + " y0 y1 y2 y3")],
        "doc_id long, text string",
    )
    handle(e1, 1)
    got1 = {r["doc_id"]: r["text"] for r in spark.read.parquet(path).collect()}
    assert got1[4] == "x0 x1 x2 x3"
    assert got1[5] == cross + " y0 y1 y2 y3"


def test_span_scrub_sink_bounded_index_parity_and_size(spark, tmp_path):
    """index_min_df=2 (round-11, the span sink's scale lever): on the
    REAL sf0.001 documents corpus arriving as one epoch, (a) the
    scrubbed output still equals batch scrub_repeated_spans exactly
    (flagging precedes appending, so the bound never changes an
    epoch's own output), and (b) the persisted index holds exactly the
    df>=2 anchors — measured 20.8x fewer rows than the unbounded
    index (1,115 of 23,172 distinct anchors), pinned conservatively
    at >= 5x."""
    from pyspark.sql import functions as F

    from insect_observation_data_pipeline_spark.llm.dedup import (
        doc_anchors,
        scrub_repeated_spans,
    )
    from insect_observation_data_pipeline_spark.streaming.sink import span_scrub_sink

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    path = str(tmp_path / "scrubbed_bounded")
    handle = span_scrub_sink(
        path, anchor_words=8, min_span_words=16, index_min_df=2
    )
    handle(docs, 0)
    got = {
        r["doc_id"]: r["text"] for r in spark.read.parquet(path).collect()
    }
    want = {
        r["doc_id"]: r["kept_text"]
        for r in scrub_repeated_spans(
            docs, anchor_words=8, min_span_words=16
        ).collect()
    }
    assert got == want
    per_anchor = (
        doc_anchors(docs, text_col="text", id_col="doc_id", anchor_words=8)
        .groupBy("anchor")
        .agg(F.count_distinct("doc_id").alias("df"))
    )
    n_all = per_anchor.count()
    n_repeated = per_anchor.filter("df >= 2").count()
    idx = spark.read.parquet(path + "__spandf")
    assert idx.count() == n_repeated  # exactly the df>=2 anchors persist
    assert n_all >= 5 * n_repeated, (
        f"bounded-index reduction collapsed: {n_all} distinct anchors "
        f"vs {n_repeated} repeated — the scale rationale needs re-measuring"
    )


def test_span_scrub_sink_bounded_index_cross_epoch_semantics(
    spark, tmp_path
):
    """The bound's semantics, stated exactly and pinned: (a) a span
    repeated WITHIN an epoch is learned forever — a later doc carrying
    it is scrubbed on arrival; (b) the cross-epoch SINGLETON pair is
    the documented giveaway — each occurrence unique within its own
    epoch, so the bounded index never learns it (the unbounded sink
    does, asserted as the contrast); (c) an already-indexed anchor
    keeps appending df rows (prior_df lifts cum past the bound), so
    counts stay monotone."""
    from insect_observation_data_pipeline_spark.streaming.sink import span_scrub_sink

    within = " ".join(f"w{i}" for i in range(12))
    cross = " ".join(f"c{i}" for i in range(12))
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")  # noqa: E731

    for bounded in (True, False):
        path = str(tmp_path / f"scrub_{bounded}")
        handle = span_scrub_sink(
            path, anchor_words=4, min_span_words=10,
            index_min_df=2 if bounded else 1,
        )
        # epoch 0: `within` shared by two docs (learned either way);
        # `cross` appears once (singleton — bounded index drops it)
        handle(mk([
            (1, within + " t0 t1"),
            (2, "x0 x1 " + within),
            (3, cross + " u0 u1"),
        ]), 0)
        # epoch 1: one doc reuses each span at new offsets
        handle(mk([
            (4, "lead0 lead1 " + within + " t2"),
            (5, "lead2 lead3 " + cross + " u2"),
        ]), 1)
        got = {
            r["doc_id"]: r["text"]
            for r in spark.read.parquet(path).collect()
        }
        assert within not in got[4]  # (a) within-epoch repeat: learned
        if bounded:
            assert cross in got[5], (
                "bounded index unexpectedly learned a cross-epoch "
                "singleton pair"
            )
        else:
            assert cross not in got[5]  # unbounded learns it: contrast
        # (c) epoch 2: the learned span's anchors must keep counting
        handle(mk([(6, within + " t3 t4")]), 2)
        got2 = {
            r["doc_id"]: r["text"]
            for r in spark.read.parquet(path).collect()
        }
        assert within not in got2[6]


def test_scrub_sinks_recover_first_epoch_index_crash(spark, tmp_path):
    """Round-10 review, pinned for BOTH df-index scrub sinks via the
    shared scaffold: a first-epoch crash AFTER the index files
    published (before complete=True) leaves the replay's rollback with
    an existing-but-EMPTIED index dir; keying the standing-index branch
    on os.path.exists would make schema inference fail identically on
    every retry — the guard must read data files. The replay must
    complete and later epochs must keep learning."""
    import pytest

    from insect_observation_data_pipeline_spark.streaming import sink as sinkmod

    span = " ".join(f"z{i}" for i in range(12))
    # the segment sink strips ALIGNED windows only, so its epoch-1 doc
    # reuses the span at a segment boundary; the span sink's reuses it
    # at an arbitrary offset (the capability it exists for)
    for maker, kwargs, e1_text in (
        (
            sinkmod.segment_scrub_sink,
            {"seg_words": 4, "min_df": 2},
            span + " tail2 tail3",
        ),
        (
            sinkmod.span_scrub_sink,
            {"anchor_words": 4, "min_span_words": 10, "min_df": 2},
            "lead0 lead1 " + span + " tail2",
        ),
    ):
        path = str(tmp_path / f"scrub_{maker.__name__}")
        handle = maker(path, **kwargs)
        e0 = spark.createDataFrame(
            [(1, span + " tail0 tail1"),
             (2, "other words entirely here nothing shared at all")],
            "doc_id long, text string",
        )
        real_write = sinkmod._epoch_log_write
        calls = {"n": 0}

        def crash_on_complete(p, e, files, complete, _real=real_write):
            # let the staged publishes record their manifests, crash at
            # the completion mark: index + corpus files are LIVE on
            # disk, epoch incomplete -> full rollback on replay
            if complete:
                calls["n"] += 1
                raise RuntimeError("injected crash at complete mark")
            _real(p, e, files, complete)

        sinkmod._epoch_log_write = crash_on_complete
        try:
            with pytest.raises(RuntimeError):
                handle(e0, 0)
        finally:
            sinkmod._epoch_log_write = real_write
        assert calls["n"] == 1
        # replay epoch 0: rollback empties BOTH the corpus and index
        # dirs (they exist, with zero data files) — must complete
        handle(e0, 0)
        assert spark.read.parquet(path).count() == 2
        # and the index keeps learning: a later doc reusing the span
        # crosses min_df and is scrubbed
        handle(
            spark.createDataFrame(
                [(3, e1_text)], "doc_id long, text string"
            ),
            1,
        )
        got = {
            r["doc_id"]: r["text"]
            for r in spark.read.parquet(path).collect()
        }
        assert span not in got[3], maker.__name__
        assert got[1] == span + " tail0 tail1", maker.__name__


def test_stateful_folds_drop_null_timestamps(spark):
    """Round-9 review fix, pinned: NaT event times must be DROPPED by
    the stateful folds — astype('int64') would turn them into int64
    min, opening a phantom first session and satisfying every
    'strictly after' funnel step."""
    from insect_observation_data_pipeline_spark.streaming.stateful import (
        funnel_stateful,
        sessionize_stateful,
    )

    rows = [
        (7, "2024-01-01 10:00:00", "view"),
        (7, None, "view"),                     # null ts: ignored
        (7, "2024-01-01 10:05:00", "click"),
        (7, None, "purchase"),                 # would fake funnel depth 3
    ]
    events = spark.createDataFrame(
        rows, "user_id long, ts string, event_type string"
    ).selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts", "event_type")

    sess = sessionize_stateful(events).collect()
    assert len(sess) == 1
    assert sess[0]["n_events"] == 2      # null-ts events carry no order info
    assert sess[0]["n_sessions"] == 1    # no phantom int64-min session

    fun = {r["user_id"]: r for r in funnel_stateful(events).collect()}
    assert fun[7]["funnel_depth"] == 2   # view -> click; null purchase ignored


def test_bounded_index_rejects_min_df_incoherence(spark, tmp_path):
    """index_min_df > min_df is incoherent, not just aggressive: a key
    can be flagged and scrubbed THIS epoch (cum_df >= min_df) yet never
    persisted (cum_df < index_min_df), so later single occurrences of a
    key the corpus has already seen min_df times escape scrubbing.
    Rejected loudly at sink construction (round-12 ADVICE)."""
    import pytest

    from insect_observation_data_pipeline_spark.streaming.sink import (
        segment_scrub_sink,
        span_scrub_sink,
    )

    with pytest.raises(ValueError, match="index_min_df"):
        segment_scrub_sink(str(tmp_path / "seg"), min_df=2, index_min_df=3)
    with pytest.raises(ValueError, match="index_min_df"):
        span_scrub_sink(str(tmp_path / "span"), min_df=2, index_min_df=3)
    # the boundary is fine: index_min_df == min_df persists exactly the
    # keys that can ever flag
    segment_scrub_sink(str(tmp_path / "ok"), min_df=2, index_min_df=2)


def test_large_corpus_posture_bounded_sink_plus_batch_sweep(spark, tmp_path):
    """The documented large-corpus posture — bounded
    ``span_scrub_sink(index_min_df=2)`` at ingest plus a PERIODIC batch
    ``scrub_repeated_spans`` sweep over the published corpus — tested
    as the composition it is documented as (round-11 verdict #3), not
    just its two halves: epochs include the cross-epoch singleton pair
    the bounded index provably gives up on (pinned by
    test_span_scrub_sink_bounded_index_cross_epoch_semantics); ONE
    batch sweep must catch exactly those stragglers, landing the final
    corpus equal to the all-at-once batch scrub of every epoch's
    input."""
    from insect_observation_data_pipeline_spark.llm.dedup import scrub_repeated_spans
    from insect_observation_data_pipeline_spark.streaming.sink import span_scrub_sink

    within = " ".join(f"w{i}" for i in range(12))
    cross = " ".join(f"c{i}" for i in range(12))
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")  # noqa: E731
    epochs = [
        # `within` repeated inside epoch 0 (the bounded index learns
        # it); `cross` a singleton here...
        [(1, within + " t0 t1"), (2, "x0 x1 " + within), (3, cross + " u0 u1")],
        # ...and a singleton again in epoch 1: the documented giveaway
        [(4, "lead0 lead1 " + within + " t2"), (5, "lead2 lead3 " + cross + " u2")],
        [(6, within + " t3 t4")],
    ]
    path = str(tmp_path / "posture")
    handle = span_scrub_sink(
        path, anchor_words=4, min_span_words=10, index_min_df=2
    )
    for i, rows in enumerate(epochs):
        handle(mk(rows), i)
    published = spark.read.parquet(path).select("doc_id", "text")
    streamed = {r["doc_id"]: r["text"] for r in published.collect()}
    # the stragglers the bound gave up: both cross-epoch occurrences
    # survived ingest (each unique within its own epoch)
    assert cross in streamed[3] and cross in streamed[5]

    # the sweep: one batch pass over the published corpus
    swept = {
        r["doc_id"]: r["kept_text"]
        for r in scrub_repeated_spans(
            published, anchor_words=4, min_span_words=10
        ).collect()
    }
    # equals the all-at-once batch scrub of every epoch's raw input
    want = {
        r["doc_id"]: r["kept_text"]
        for r in scrub_repeated_spans(
            mk([row for rows in epochs for row in rows]),
            anchor_words=4, min_span_words=10,
        ).collect()
    }
    assert swept == want
    assert cross not in swept[3] and cross not in swept[5]


def test_dedup_ingest_sink_recovers_crashed_swap_same_session(spark, tmp_path):
    """Round-12 review: the crashed-swap restore used to be reachable
    only through _ensure_index_tables, which is gated on tableExists —
    in the SAME session (tables still registered) a crash between the
    compaction renames left the index dir missing, the registered table
    scanned a missing location (read empty / failed), every duplicate
    was re-admitted, and the next append recreated the dir so the
    stranded complete copy could never be restored. The sink now calls
    _recover_crashed_swap unconditionally before reading the index."""
    import hashlib as _hl
    import os as _os
    import shutil as _sh

    from insect_observation_data_pipeline_spark.streaming import dedup_ingest_sink

    a = "the quick brown fox jumps over the lazy dog again and again"
    d = "nothing like anything else in this tiny stream at all honestly"
    corpus = str(tmp_path / "samesess_corpus")
    handle = dedup_ingest_sink(corpus, threshold=0.2, index_buckets=2)
    handle(
        spark.createDataFrame([(1, a), (2, d)], "doc_id long, text string"), 0
    )
    suffix = _hl.md5(corpus.encode()).hexdigest()[:10]
    assert spark.catalog.tableExists(f"dedup_index_{suffix}")

    # crash mid-swap; the session (and its table registrations) survives
    _sh.move(f"{corpus}__index", f"{corpus}__index.compacting")

    handle(
        spark.createDataFrame(
            [(3, a), (4, a + " with a tiny tail"),
             (5, "wholly new text about nothing seen before at all")],
            "doc_id long, text string",
        ),
        1,
    )
    got = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert got == {1, 2, 5}  # 3 exact-dups 1, 4 near-dups 1 — both rejected
    idx = spark.table(f"dedup_index_{suffix}")
    assert {r["doc_id"] for r in idx.select("doc_id").collect()} == {1, 2, 5}
    assert not _os.path.exists(f"{corpus}__index.compacting")


def test_stateful_idle_timeout_smoke(spark, tmp_path):
    """Round-12 review: per-key state in the stateful operators is
    unbounded without eviction. The idle_timeout knob arms
    ProcessingTimeTimeout; within one trigger no timeout can fire, so
    results must equal the NoTimeout path — the knob's semantics under
    idleness are documented on the operators (state evicted after its
    counts were emitted)."""
    from insect_observation_data_pipeline_spark.streaming.stateful import (
        sessionize_stateful,
    )

    rows = [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:05:00"),
            (2, "2024-01-01 11:00:00")]
    src = str(tmp_path / "ev")
    spark.createDataFrame(rows, "user_id long, ts string").selectExpr(
        "user_id", "CAST(ts AS TIMESTAMP) AS ts"
    ).write.parquet(src)
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    out = sessionize_stateful(stream, idle_timeout_ms=30 * 60 * 1000)
    q = (
        out.writeStream.format("memory")
        .queryName("idle_smoke")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    # with ProcessingTimeTimeout armed the availableNow query does not
    # self-terminate after draining the source, so a blind
    # awaitTermination(120) used to wait out its FULL budget (this one
    # test was 120 of the suite's 2749 s; processAllAvailable also
    # blocks forever on this query shape). Poll the sink for the
    # expected state under the same 120 s deadline, then stop.
    import time as _time

    want = {1: (2, 1), 2: (1, 1)}
    got = {}
    deadline = _time.time() + 120
    while _time.time() < deadline:
        err = q.exception()
        if err is not None:
            q.stop()
            raise err
        got = {
            r["user_id"]: (r["n_events"], r["n_sessions"])
            for r in spark.sql("SELECT * FROM idle_smoke").collect()
        }
        if got == want:
            break
        _time.sleep(1)
    q.stop()
    assert got == want


def test_stateful_idle_timeout_rejects_non_positive(spark):
    """Round-12 follow-up: idle_timeout_ms=0 is falsy at the
    timeoutConf pick but not None at the eviction wrapper, so it would
    arm setTimeoutDuration under NoTimeout and kill the stream on its
    first keyed batch; 'no eviction' is spelled None, and zero/negative
    values raise up front."""
    import pytest

    from insect_observation_data_pipeline_spark.streaming.stateful import (
        funnel_stateful,
        sessionize_stateful,
    )

    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "view")],
        "user_id long, ts string, event_type string",
    ).selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts", "event_type")
    for bad in (0, -5):
        with pytest.raises(ValueError, match="positive duration"):
            sessionize_stateful(df, idle_timeout_ms=bad)
        with pytest.raises(ValueError, match="positive duration"):
            funnel_stateful(df, idle_timeout_ms=bad)
