"""Physical-plan assertions: the scale properties the engine promises.

These test plan SHAPE, not results — pushdown reaching the scan, column
pruning, broadcast selection, top-k via TakeOrderedAndProject, no
cartesian products, no Python UDFs in hot paths.
"""

from __future__ import annotations

from insect_observation_data_pipeline_spark.plans.inspect import (
    node_class,
    node_classes,
    physical_plan,
    plan_flags,
    plan_nodes,
    pushed_filters,
    read_schema_columns,
    unpartitioned_windows,
)
from insect_observation_data_pipeline_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_audit_counters_see_exchanges_and_codegen(spark):
    """Integrity of the tools/audit_plans.py counters (an audit that
    counts nothing would report 0 exchanges and no codegen for every
    query): a groupBy plans a ShuffleExchangeExec, and after collect()
    the walk reaches AQE's final plan, whose materialized stages carry
    WholeStageCodegenExec. The count descends into every query stage: a
    two-sided SortMergeJoin with broadcast off ran exactly 2 shuffles."""
    from pyspark.sql import functions as F

    df = QUERIES["q1_pricing_summary"](spark, SF)
    assert node_classes(physical_plan(df))["ShuffleExchangeExec"] > 0
    df.collect()
    root = physical_plan(df)
    assert root.isFinalPlan()
    final = node_classes(root)
    assert final["ShuffleQueryStageExec"] > 0
    assert final["WholeStageCodegenExec"] > 0

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left = spark.range(200).select((F.col("id") % 50).alias("k"))
        smj = left.join(spark.range(100).withColumnRenamed("id", "k"), "k")
        smj.collect()
        final = node_classes(physical_plan(smj))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert final["SortMergeJoinExec"] == 1
    assert final["ShuffleExchangeExec"] == 2


def test_filter_and_projection_pushdown(spark):
    df = QUERIES["s1_scan_prune"](spark, SF)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed and "l_quantity" in pushed
    scans = read_schema_columns(df)
    assert scans and all(len(c) <= 4 for c in scans)  # 4-col ReadSchema


def test_q1_prunes_to_needed_columns(spark):
    scans = read_schema_columns(QUERIES["q1_pricing_summary"](spark, SF))
    assert scans and len(scans[0]) <= 6


def test_joins_broadcast_not_cartesian(spark):
    for name in ["q3_shipping_priority", "q5_local_supplier_volume",
                 "flagship_top_part_supplier"]:
        flags = plan_flags(QUERIES[name](spark, SF))
        assert flags["broadcast_hash_join"], name
        assert not flags["cartesian_product"], name
        assert not flags["python_udf"], name


def test_substring_theta_is_broadcast_nlj(spark):
    flags = plan_flags(QUERIES["j8_substring_theta"](spark, SF))
    assert flags["broadcast_nested_loop_join"]
    assert not flags["cartesian_product"]


def test_topk_uses_take_ordered(spark):
    flags = plan_flags(QUERIES["t1_topk_lineitems"](spark, SF))
    assert flags["take_ordered"]


def test_interval_join_keeps_equi_component(spark):
    """J9 must plan as an equi join (hash/SMJ) with a range residual,
    never a cartesian product."""
    flags = plan_flags(QUERIES["j9_interval_attribution"](spark, SF))
    assert flags["broadcast_hash_join"] or flags["sort_merge_join"] or flags["shuffled_hash_join"]
    assert not flags["cartesian_product"]


def test_all_queries_plan_invariants(spark):
    """Engine-wide sweep: EVERY registered query must satisfy the three
    100 TB plan invariants — no row-at-a-time Python UDF (stay in
    codegen; Arrow-batched MapInPandas, as in m2, is the sanctioned
    boundary and doesn't trip the flag), no cartesian product (every
    join keyed or broadcast), and no unpartitioned window (nothing
    funnels all rows through one task). A new query that violates any
    of these fails here before it ever reaches the driver."""
    bad = []
    for name, fn in QUERIES.items():
        df = fn(spark, SF)
        flags = plan_flags(df)
        if flags["python_udf"]:
            bad.append(f"{name}: Python UDF")
        if flags["cartesian_product"]:
            bad.append(f"{name}: CartesianProduct")
        if unpartitioned_windows(df) != 0:
            bad.append(f"{name}: unpartitioned window")
    assert not bad, "; ".join(bad)


def test_unpartitioned_windows_counts_global_window(spark):
    """A global window counts even when its order key is an expression
    with a comma (round(x, 2)); partitioning the same window clears it."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        (F.col("id") / 7).alias("x"), (F.col("id") % 3).alias("g")
    )
    order = F.round("x", 2)
    glob = Window.orderBy(order)
    part = Window.partitionBy("g").orderBy(order)
    assert unpartitioned_windows(df.withColumn("r", F.rank().over(glob))) == 1
    assert unpartitioned_windows(df.withColumn("r", F.rank().over(part))) == 0


def test_plan_flags_see_inside_persisted_frame(spark):
    """A join planned inside a .persist()ed frame lives in the cached
    InMemoryRelation's plan, which only innerChildren reaches."""
    from pyspark.sql import functions as F

    small = spark.range(10).withColumnRenamed("id", "k")
    cached = (
        spark.range(1000)
        .withColumn("k", F.col("id") % 10)
        .join(F.broadcast(small), "k")
        .persist()
    )
    try:
        assert plan_flags(cached.groupBy("k").count())["broadcast_hash_join"]
    finally:
        cached.unpersist()


def test_embedding_dedup_blocked_not_cartesian(spark):
    """x11 must stay blocked by cell, never a global cross product: the
    gram kernel plans as ONE FlatMapGroupsInPandas keyed on the cell (the
    pair space exists only inside each Arrow batch, shuffled by cell), so
    no join node and no cartesian appears."""
    df = QUERIES["x11_dedup_embedding"](spark, SF)
    classes = node_classes(physical_plan(df))
    assert not classes["CartesianProductExec"]
    assert classes["FlatMapGroupsInPandasExec"]


def test_multikey_anti_join_shape(spark):
    """J5 composite-key anti-join: hash/SMJ anti, scans pruned to the
    two key columns + filter column."""
    df = QUERIES["j5_multikey_anti"](spark, SF)
    assert any(
        name.endswith("JoinExec") and str(n.joinType()) == "LeftAnti"
        for name, n in plan_nodes(physical_plan(df))
    )
    assert not plan_flags(df)["cartesian_product"]
    scans = read_schema_columns(df)
    assert scans and all(len(c) <= 3 for c in scans)


def test_upsert_recompute_uses_window_group_limit(spark):
    """u1's latest-per-key recompute plans with WindowGroupLimit (rank
    pre-filter before the full window sort) on Spark 4."""
    df = QUERIES["u1_upsert_last_wins"](spark, SF)
    assert node_classes(physical_plan(df))["WindowGroupLimitExec"]


def test_training_order_rank_window_is_sub_bucketed(spark):
    """x35's distributed rank: the HEAVY row_number window must
    partition by (shard, sub) — 16^2 slices per shard — never by the
    constant-cardinality shard alone (the round-5 defect: an 8-task
    sort funnel at any corpus size). The shard-only window that remains
    is the per-slice-count prefix sum, whose input is one row per
    slice. And the scalable plan must stay byte-identical to the naive
    single-window-per-shard form."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = QUERIES["x35_training_order"](spark, SF)
    specs = []
    for name, w in plan_nodes(df._jdf.queryExecution().optimizedPlan()):
        if name != "Window":
            continue
        exprs, part = w.windowExpressions(), w.partitionSpec()
        fns = {
            node_class(exprs.apply(i).child().windowFunction())
            for i in range(exprs.size())
        }
        if "RowNumber" in fns:
            specs.append({part.apply(i).name() for i in range(part.size())})
    assert specs, "no row_number window in the x35 plan"
    for spec in specs:
        assert {"shard", "sub"} <= spec, (
            f"rank window partitioned by constant-cardinality keys: {spec}"
        )

    # output identity vs the naive form (order depends only on ids)
    from insect_observation_data_pipeline_spark.llm.curation import hash_bucket
    from insect_observation_data_pipeline_spark.sources.parquet import read_table

    d = read_table(spark, SF, "documents")
    ord_key = F.md5(F.concat(F.lit("ord:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("shard").orderBy(F.col("ord_key"), F.col("doc_id"))
    naive = (
        d.select(
            "doc_id",
            hash_bucket(F.col("doc_id"), 8).cast("int").alias("shard"),
            ord_key.alias("ord_key"),
        )
        .withColumn("pos", F.row_number().over(w).cast("int"))
        .select("doc_id", "shard", "pos")
    )
    got = {(r["doc_id"], r["shard"], r["pos"]) for r in df.collect()}
    want = {(r["doc_id"], r["shard"], r["pos"]) for r in naive.collect()}
    assert got == want


def test_dedup_index_joins_read_bucket_aligned(spark, tmp_path):
    """The streaming dedup index's scale claim, pinned at the plan
    level: with the index persisted as bucketed tables, the
    exact-fingerprint semi join and the LSH band candidate join both
    scan the index bucketed — the ever-growing corpus side is never
    re-shuffled per epoch; only the batch moves."""
    from insect_observation_data_pipeline_spark.llm.dedup import incremental_dedup_indexed
    from insect_observation_data_pipeline_spark.streaming import dedup_ingest_sink

    corpus = str(tmp_path / "bucketed_plan_corpus")
    handle = dedup_ingest_sink(corpus, threshold=0.2)
    handle(
        spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog again and again"),
             (2, "completely different corpus text about spark engines at scale")],
            "doc_id long, text string",
        ),
        0,
    )
    import hashlib

    suffix = hashlib.md5(corpus.encode()).hexdigest()[:10]
    index = spark.table(f"dedup_index_{suffix}")
    bands = spark.table(f"dedup_bands_{suffix}")
    batch = spark.createDataFrame(
        [(9, "the quick brown fox jumps over the lazy dog again and again yes")],
        "doc_id long, text string",
    )
    out = incremental_dedup_indexed(
        index, spark.read.parquet(corpus), batch, band_index=bands
    )
    scans = {}
    for name, scan in plan_nodes(physical_plan(out)):
        if name != "FileSourceScanExec":
            continue
        ident = scan.tableIdentifier()
        if ident.isEmpty() or not ident.get().table().startswith("dedup_"):
            continue
        first_col = scan.requiredSchema().fieldNames()[0]
        scans.setdefault((ident.get().table(), first_col), []).append(
            scan.bucketedScan()
        )
    band_scans = [b for (t, _), bs in scans.items() for b in bs if "bands" in t]
    assert band_scans and all(band_scans), f"band scan not bucket-aligned: {scans}"
    fp_scans = [
        b
        for (t, c), bs in scans.items()
        for b in bs
        if "index" in t and c == "fp"
    ]
    assert fp_scans and all(fp_scans), f"fp scan not bucket-aligned: {scans}"


def test_funnel_cascade_is_single_shuffle(spark):
    """e6's selling point over the 3-join cascade: the whole funnel —
    two chained window passes + the final per-user agg — rides ONE
    hash exchange on user_id. A second exchange means the agg stopped
    reusing the window's partitioning (or a join crept in)."""
    df = QUERIES["e6_funnel_steps"](spark, SF)
    df.collect()
    final = list(plan_nodes(physical_plan(df)))
    hash_exchanges = [
        n
        for name, n in final
        if name == "ShuffleExchangeExec"
        and node_class(n.outputPartitioning()) == "HashPartitioning"
    ]
    classes = [name for name, _ in final]
    assert len(hash_exchanges) == 1, classes
    assert not any("Join" in c for c in classes), classes


def test_band_join_plans_as_equi_join(spark):
    """j14's bucketized rewrite must plan the band predicate as an
    equi-join residual — never CartesianProduct/BroadcastNestedLoop."""
    df = QUERIES["j14_band_join_coincident"](spark, SF)
    df.collect()
    flags = plan_flags(df)
    assert not flags["cartesian_product"]
    assert not flags["broadcast_nested_loop_join"]
    assert (
        flags["broadcast_hash_join"]
        or flags["shuffled_hash_join"]
        or flags["sort_merge_join"]
    )


def test_weighted_sample_topk_is_take_ordered(spark):
    """weighted_sample's global form must plan as
    TakeOrderedAndProject (per-partition heaps, no full sort, no
    shuffle of losers) — the property that makes 'keep k docs,
    favor quality' viable over a 100 TB corpus."""
    from insect_observation_data_pipeline_spark.llm.curation import weighted_sample

    df = spark.range(1000).selectExpr(
        "id AS doc_id", "cast(1 + id % 7 AS double) AS w"
    )
    out = weighted_sample(df, weight_col="w", key_col="doc_id", k=10, seed="s")
    assert plan_flags(out)["take_ordered"]


def test_w2b_register_shuffle_bounded_vs_exact_distinct(spark):
    """MEASURED pin for w2b's scale claim (round-11 verdict #2): the
    register form's aggregation shuffle is bounded by tasks x groups x
    256 registers REGARDLESS of distinct-value cardinality, while the
    exact COUNT(DISTINCT) form's first shuffle carries one record per
    distinct combination — i.e. grows linearly with the data. Asserted
    from the engine's own shuffle-write metrics at two input scales
    (10x apart) where the cap actually binds — TPC-H at sf<=0.1 never
    reaches 256 distinct suppliers per customer-month, which is why
    SCALING could only note the claim; synthetic high-cardinality
    groups make it measurable."""
    from pyspark.sql import functions as F

    from insect_observation_data_pipeline_spark.functions.approx import (
        hll_registers,
        hll_state,
    )
    from insect_observation_data_pipeline_spark.plans.inspect import shuffle_write_totals

    TASKS, GROUPS = 8, 4

    def frame(n):
        # n globally-distinct string values spread over GROUPS groups,
        # TASKS fixed input partitions (range slices — no repartition
        # shuffle polluting the measurement)
        return spark.range(0, n, 1, TASKS).select(
            (F.col("id") % GROUPS).alias("g"),
            F.col("id").cast("string").alias("v"),
        )

    def exact(n):
        return frame(n).groupBy("g").agg(F.countDistinct("v").alias("d"))

    def register(n):
        return hll_state(hll_registers(frame(n), "v", ["g"]), ["g"])

    # big enough that the 256-register cap BINDS at both scales (at
    # ~2.5k distinct per group-task essentially every bucket is hit);
    # below saturation the register shuffle still grows with data
    # (5118 -> 8196 records from 8k -> 80k rows, measured) — the claim
    # is the CAP, not sub-saturation behavior
    small, large = 80_000, 800_000
    _, exact_small = shuffle_write_totals(exact(small))
    _, exact_large = shuffle_write_totals(exact(large))
    _, reg_small = shuffle_write_totals(register(small))
    _, reg_large = shuffle_write_totals(register(large))

    # exact distinct: the dedup shuffle carries every distinct (g, v)
    # combination — 10x the data is ~10x the shuffle records
    assert exact_large >= 5 * exact_small, (exact_small, exact_large)
    # register form: partial agg caps each task at GROUPS x 256 rows,
    # so 10x the data moves the shuffle record count not at all
    # (the bound: register shuffle + state shuffle + final rows)
    cap = TASKS * GROUPS * 256 + GROUPS * 256 + GROUPS
    assert reg_large <= cap, (reg_large, cap)
    assert reg_large <= 1.2 * reg_small, (reg_small, reg_large)
    # and the direction the switch rule promises: at the larger scale
    # the register shuffle is already far below the exact one
    assert reg_large < exact_large / 2, (reg_large, exact_large)


def test_shuffle_measurement_fails_loudly_when_vacuous(spark):
    """shuffle_write_stages is an EVIDENCE helper: it must raise, never
    attest 0 bytes, when the run it observed did not actually write its
    shuffles (round-12 review): a DataFrame whose lineage already
    executed re-reads its materialized map outputs, the shuffle stages
    come back SKIPPED with no observed write anywhere, and a
    bounded-shuffle assertion over the totals would pass on numbers
    that measure nothing. A FRESH run also reports skipped entries
    (AQE lists each materialized query stage as a skipped parent of
    the final job) — those must keep passing, which the fresh
    measurement below pins."""
    import pytest
    from pyspark.sql import functions as F

    from insect_observation_data_pipeline_spark.plans.inspect import (
        shuffle_write_stages,
        shuffle_write_totals,
    )

    df = (
        spark.range(0, 20_000, 1, 4)
        .groupBy((F.col("id") % 7).alias("g"))
        .count()
    )
    # fresh lineage: measures cleanly, and the agg really shuffled
    _, records = shuffle_write_totals(df.sparkSession.range(0, 20_000, 1, 4)
                                      .groupBy((F.col("id") % 7).alias("g"))
                                      .count())
    assert records > 0
    df.collect()  # materializes this df's map-side shuffle output
    with pytest.raises(RuntimeError, match="SKIPPED"):
        shuffle_write_stages(df)


def test_pushed_filters_returns_whole_entries(spark, tmp_path):
    """Pushed filters come back as whole entries, one per filter:
    In(col, [...]) with its list, GreaterThan(col,45.0) with both
    arguments, so an assertion can match a whole entry."""
    p = str(tmp_path / "t.parquet")
    spark.range(100).selectExpr(
        "id", "id % 7 AS k", "CAST(id AS DOUBLE) AS v"
    ).write.parquet(p)
    df = (
        spark.read.parquet(p)
        .filter("k IN (1, 2, 3)")
        .filter("v > 45.0")
        .select("id")
    )
    got = pushed_filters(df)
    assert any(e.startswith("In(k") and e.endswith(")") for e in got), got
    assert any(
        e.startswith("GreaterThan(v") and e.endswith("45.0)") for e in got
    ), got
    # no sheared fragments
    assert all("(" in e or not e.endswith(")") for e in got), got


def test_read_schema_columns_nested_struct(spark, tmp_path):
    """Nested struct fields do not appear as top-level columns."""
    p = str(tmp_path / "nested.parquet")
    spark.createDataFrame(
        [(1, (2, 3), 4)], "a int, b struct<c:int, d:int>, e int"
    ).write.parquet(p)
    df = spark.read.parquet(p).select("a", "b", "e")
    scans = read_schema_columns(df)
    assert scans and sorted(scans[0]) == ["a", "b", "e"], scans


def test_read_schema_columns_parenthesized_types(spark, tmp_path):
    """A parenthesized type (decimal(10,2)) is one column."""
    from decimal import Decimal

    p = str(tmp_path / "dec.parquet")
    spark.createDataFrame(
        [(Decimal("1.25"), 2)], "a decimal(10,2), b int"
    ).write.parquet(p)
    df = spark.read.parquet(p).select("a", "b")
    scans = read_schema_columns(df)
    assert scans and sorted(scans[0]) == ["a", "b"], scans
