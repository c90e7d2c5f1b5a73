"""Physical-plan introspection: make scale properties assertable.

The 100 TB posture lives or dies on plan shape, not code style. These
helpers walk Spark's plan trees over py4j — node classes and their
accessors, never ``explain`` text, so a change to Spark's plan-string
format cannot blind them — and let tests assert that filters reached
the scan, columns were pruned, small dims broadcast, no cartesian
product slipped in and whole-stage codegen covers the hot path.

A DataFrame's physical plan is the pre-execution plan until an action
runs; a caller that needs AQE's final plan runs ``df.collect()`` first.
These are test/debug aids, not runtime dependencies.
"""

from __future__ import annotations

import re
from collections import Counter
from collections.abc import Iterator

from pyspark import SparkContext
from pyspark.sql import DataFrame


def _seq(s) -> list:
    """A py4j-held Scala ``Seq`` as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def node_class(node) -> str:
    """Simple JVM class name of a plan node (``SortMergeJoinExec``)."""
    return node.getClass().getSimpleName()


def plan_nodes(root) -> Iterator[tuple[str, object]]:
    """``(class name, node)`` for every node of a JVM plan tree (physical
    or logical), each node once, pre-order.

    Descends ``AdaptiveSparkPlanExec`` into ``executedPlan()`` (the
    initial plan before an action, the final one after), any
    ``*QueryStageExec`` into ``plan()``, and every other node into
    ``children()`` and ``innerChildren()``, which hold subqueries and a
    cached ``InMemoryRelation``'s plan. ``ReusedExchangeExec`` has
    neither, so the exchange it reuses counts once, where it ran.
    Subqueries are walked after the main tree, the order ``explain``
    lists them in. A node reachable twice (one cached plan read by two
    scans) is yielded once, tracked by JVM identity."""
    seen = SparkContext._jvm.java.util.IdentityHashMap()
    stack, subqueries = [root], []
    while stack or subqueries:
        node = stack.pop() if stack else subqueries.pop(0)
        if seen.put(node, True) is not None:
            continue
        name = node_class(node)
        yield name, node
        if name == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif name.endswith("QueryStageExec"):
            kids = [node.plan()]
        else:
            kids = _seq(node.children())
            for c in _seq(node.innerChildren()):
                (subqueries if "Subquery" in node_class(c) else kids).append(c)
        stack.extend(reversed(kids))


def node_classes(root) -> Counter[str]:
    """How many nodes of each class the tree under ``root`` holds."""
    return Counter(name for name, _ in plan_nodes(root))


def physical_plan(df: DataFrame):
    """The JVM physical plan of ``df`` (AQE's final plan once an action
    has run on this DataFrame)."""
    return df._jdf.queryExecution().executedPlan()


def _nodes_of(df: DataFrame, *classes: str) -> list:
    return [n for name, n in plan_nodes(physical_plan(df)) if name in classes]


def pushed_filters(df: DataFrame, reading: str | None = None) -> list[str]:
    """All filters pushed into file scans, one whole entry per item
    (``In(k, [1,2,3])``, ``GreaterThan(v,45.0)``); with ``reading``,
    only those of the scans that read that top-level column."""
    return [
        str(f)
        for scan in _nodes_of(df, "FileSourceScanExec")
        if reading is None
        or reading in list(scan.requiredSchema().fieldNames())
        for f in _seq(scan.pushedDownFilters())
    ]


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """TOP-LEVEL column names read by each file scan (pruning check)."""
    return [
        list(scan.requiredSchema().fieldNames())
        for scan in _nodes_of(df, "FileSourceScanExec")
    ]


def unpartitioned_windows(df: DataFrame) -> int:
    """Count window operators with NO partition columns — global sorts
    that funnel every row through one partition (the scale killer the
    hashed surrogate keys removed; assert 0 in ETL plans). Read from the
    analyzed plan, before the optimizer can merge or drop windows."""
    analyzed = df._jdf.queryExecution().analyzed()
    return sum(
        1
        for name, n in plan_nodes(analyzed)
        if name == "Window" and n.partitionSpec().isEmpty()
    )


def join_key_names(df: DataFrame) -> list[list[str]]:
    """Equi-join key names per join side (left, then right, per join),
    ``#id`` suffixes stripped — lets tests assert that a salting rewrite
    really moved the salt columns into the shuffle key."""
    out: list[list[str]] = []
    for j in _nodes_of(
        df, "BroadcastHashJoinExec", "ShuffledHashJoinExec", "SortMergeJoinExec"
    ):
        for keys in (j.leftKeys(), j.rightKeys()):
            out.append([re.sub(r"#\d+L?", "", str(k)) for k in _seq(keys)])
    return out


def aggregate_calls(df: DataFrame) -> list[tuple[str, str, bool]]:
    """``(mode, function, distinct)`` for every aggregate expression of
    every aggregate operator: ``("Partial", "max", False)`` is what the
    plan string prints as ``partial_max(...)``, and a count-distinct is
    ``(..., "count", True)``."""
    return [
        (str(e.mode()), e.aggregateFunction().prettyName(), e.isDistinct())
        for name, node in plan_nodes(physical_plan(df))
        if name.endswith("AggregateExec")
        for e in _seq(node.aggregateExpressions())
    ]


def pandas_group_keys(df: DataFrame) -> list[list[str]]:
    """Grouping column names of each grouped pandas UDF operator
    (``applyInPandas``), in plan order — the shuffle key its groups are
    formed by."""
    return [
        [a.name() for a in _seq(n.groupingAttributes())]
        for n in _nodes_of(df, "FlatMapGroupsInPandasExec")
    ]


# node classes behind each plan_flags key
_FLAG_CLASSES = {
    "broadcast_hash_join": {"BroadcastHashJoinExec"},
    "broadcast_nested_loop_join": {"BroadcastNestedLoopJoinExec"},
    "sort_merge_join": {"SortMergeJoinExec"},
    "shuffled_hash_join": {"ShuffledHashJoinExec"},
    "cartesian_product": {"CartesianProductExec"},
    "whole_stage_codegen": {"WholeStageCodegenExec"},
    "take_ordered": {"TakeOrderedAndProjectExec"},
    "python_udf": {"BatchEvalPythonExec", "ArrowEvalPythonExec"},
}


def plan_flags(df: DataFrame) -> dict[str, bool]:
    present = node_classes(physical_plan(df)).keys()
    return {k: not present.isdisjoint(v) for k, v in _FLAG_CLASSES.items()}


def _stage_seq(spark):
    """All stages the app status store knows about, as a py4j Seq of
    v1.StageData (py4j needs the scala default args passed explicitly;
    ``stageList$default$4`` is the unresolved-quantiles array)."""
    store = spark._jsc.sc().statusStore()
    jvm = spark._jvm
    d4 = getattr(store, "stageList$default$4")()
    return store.stageList(
        jvm.java.util.ArrayList(), False, False, d4, jvm.java.util.ArrayList()
    )


def shuffle_write_stages(df: DataFrame) -> list[dict]:
    """Execute the DataFrame (collect) and return the shuffle-WRITE
    metrics of exactly the stages that ran for it: one dict per new
    non-skipped stage with ``bytes``/``records``/``name``. This is the
    measured form of the plan-shape claims — "this agg's shuffle is
    bounded by groups x 256 registers" (w2b) becomes an assertable
    number instead of an explain-text argument (round-11 verdict #2).

    Implementation: the driver's AppStatusStore accumulates every
    stage's executor-aggregated metrics; snapshot the known stage ids,
    run, drain the listener bus (the store is fed asynchronously),
    and report only stages that appeared. Driver-side introspection —
    scale-safe (metrics are O(stages), pre-aggregated by the engine),
    but a test/evidence aid, never a runtime dependency."""
    spark = df.sparkSession
    # drain the async listener bus BEFORE the snapshot too (round-12
    # review): a just-finished previous action's stage events may still
    # be queued — without the drain they land in the store after the
    # snapshot and get attributed to THIS run's measurement
    spark._jsc.sc().listenerBus().waitUntilEmpty()
    before = set()
    seq = _stage_seq(spark)
    for i in range(seq.length()):
        before.add(seq.apply(i).stageId())
    df.collect()
    spark._jsc.sc().listenerBus().waitUntilEmpty()
    out: list[dict] = []
    skipped: list[int] = []
    seq = _stage_seq(spark)
    for i in range(seq.length()):
        s = seq.apply(i)
        if s.stageId() in before:
            continue
        if str(s.status()) == "SKIPPED":
            skipped.append(s.stageId())
            continue
        out.append(
            {
                "stage_id": s.stageId(),
                "bytes": s.shuffleWriteBytes(),
                "records": s.shuffleWriteRecords(),
                "name": str(s.name()),
            }
        )
    # An evidence helper must fail loudly, never attest 0 bytes for a
    # run that reused materialized shuffle output (round-12 review): a
    # DataFrame whose action already ran re-reads its map outputs, the
    # shuffle stages come back SKIPPED, and a bounded-shuffle assertion
    # over the totals would pass on numbers that measure nothing.
    # SKIPPED entries alone are NOT the signal — AQE reports skipped
    # parent entries even on a completely fresh execution (each
    # materialized query stage reappears as a skipped parent of the
    # final job, with the real write counted in its own COMPLETE
    # stage). The malign case is skipped entries with NO observed
    # shuffle write anywhere: full lineage reuse (indistinguishable
    # here from a fresh run whose every shuffle is empty — the helper
    # refuses both rather than attest an unverifiable zero). Partial
    # reuse of a persisted upstream is NOT detected; callers must
    # rebuild the DataFrame from source, as tools/shuffle_evidence.py
    # does.
    if skipped and not any(s["bytes"] or s["records"] for s in out):
        raise RuntimeError(
            f"shuffle measurement vacuous: stages {sorted(skipped)} were "
            "SKIPPED and no new stage wrote shuffle output — this "
            "DataFrame's lineage was already materialized (or every "
            "shuffle is empty); rebuild it from source so the writes are "
            "observed"
        )
    if not out:
        raise RuntimeError(
            "shuffle measurement vacuous: the collect launched no stages "
            "(local relation or fully short-circuited plan)"
        )
    return sorted(out, key=lambda d: d["stage_id"])


def shuffle_write_totals(df: DataFrame) -> tuple[int, int]:
    """(total shuffle bytes written, total records) for one execution
    of ``df`` — the sum over :func:`shuffle_write_stages`."""
    stages = shuffle_write_stages(df)
    return (
        sum(s["bytes"] for s in stages),
        sum(s["records"] for s in stages),
    )
