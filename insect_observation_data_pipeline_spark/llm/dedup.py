"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Everything is built-in expressions (md5 / arrays / lambda HOFs) so the
same code whole-stage-codegens and survives a 1000-executor scale-up:

- exact: hash-groupBy on a content fingerprint — one shuffle on the hash.
- n-gram Jaccard: shingle -> explode -> self-join on shingle. Exact but
  quadratic in colliding docs; the scale path is MinHash below.
- MinHash+LSH: per-doc signature (one agg pass over exploded shingles),
  banded bucket join so only same-bucket docs pair up — the classic
  shingle->minhash->band->bucket-join pipeline; candidate pairs are then
  verified with exact Jaccard.
- SimHash: per-doc 16-bit signature in one agg pass; near-dups share
  signatures within small Hamming distance.

Hash functions are md5-hex based (lexicographic min over hex strings is a
valid uniform min-hash) — deliberately engine-portable so the DuckDB
oracle can reproduce signatures bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from insect_observation_data_pipeline_spark.cache import tag_intermediates
from insect_observation_data_pipeline_spark.functions.numeric import stable_round

from insect_observation_data_pipeline_spark.llm.textstats import fingerprint128, tokens


def exact_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content-hash groupBy: keeper = min id per group.

    A NULL text (fp NULL) matches NOTHING — each such doc is its own
    singleton keeper (round-14 review: the bare groupBy grouped every
    missing-text doc into ONE group, declaring unrelated docs exact
    duplicates, while the incremental paths' fp equi-joins never match
    NULL; this aligns the batch path, and keeps the streaming ingest
    sink's keeper semi-join from dropping missing-text docs). ONE scan,
    ONE aggregate: the group key is (fp, doc_id-if-fp-NULL) — non-NULL
    fingerprints group normally (second key constant NULL), NULL
    fingerprints get per-doc singleton groups; a filter+union spelling
    measured 1.5x slower (second corpus scan) on the bench."""
    hashed = docs.select(
        F.col(id_col), fingerprint128(F.col(text_col)).alias("fp")
    )
    null_key = F.when(F.col("fp").isNull(), F.col(id_col))
    return (
        hashed.groupBy("fp", null_key.alias("__null_singleton"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .select("fp", "keeper_id", "n_docs")
    )


def doc_segments(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 8,
) -> DataFrame:
    """(doc_id, pos, seg): non-overlapping ``seg_words``-word windows
    per document, in order — the segmentation shared by the batch
    :func:`segment_dedup` and the streaming segment-scrub sink (one
    definition, so their outputs compose). Zero-token documents
    produce zero rows."""
    w = seg_words
    toked = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks")
    )
    n_seg = F.ceil(F.size("__toks") / F.lit(w)).cast("int")
    # guard the empty-doc case: sequence(0, -1) would DESCEND in Spark
    seg_arr = F.when(
        F.size("__toks") > 0,
        F.transform(
            F.sequence(F.lit(0), n_seg - 1),
            lambda i: F.array_join(F.slice("__toks", i * w + 1, w), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toked.select("doc_id", F.posexplode(seg_arr).alias("pos", "seg"))


def kept_text_agg(marker_col: str) -> Column:
    """Aggregate expression reassembling a document from its NON-marked
    segments in original order: collect (pos, seg) structs for rows
    whose ``marker_col`` is NULL, sort by position, join with spaces.
    ONE definition on purpose — the batch operator (:func:`segment_dedup`)
    and the streaming scrub sink must reassemble identically or the
    pinned one-epoch == batch equivalence silently breaks."""
    kept = F.when(F.col(marker_col).isNull(), F.struct("pos", "seg"))
    return F.array_join(
        F.transform(F.array_sort(F.collect_list(kept)), lambda s: s["seg"]),
        " ",
    )


def segment_dedup(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """Segment-level exact dedup — the "repeated line removal" pass of
    web-corpus pipelines (RefinedWeb/Dolma style), adapted to this
    newline-free corpus by segmenting on fixed ``seg_words``-word
    windows instead of lines: split every document into non-overlapping
    segments, mark each segment whose EXACT text occurs in >=
    ``min_df`` distinct documents, and strip the marked segments from
    every document. Corpus-wide boilerplate (headers, navigation,
    license blurbs) disappears while unique prose stays.

    Scale shape: the explode factor is n_words/seg_words (vs n_words
    for shingling); one shuffle to count per-segment document
    frequency, one equi-join back on segment text (the dup side is
    post-aggregation and min_df-filtered, orders of magnitude smaller
    than the corpus), one shuffle to reassemble per document. No
    similarity join, no pair set — in a real pipeline this runs BEFORE
    MinHash precisely to kill the boilerplate that would otherwise
    glue unrelated documents into one near-dup cluster.

    The segment frame is deliberately NOT persisted even though it
    feeds both the df-count and the probe side (2 scans of the
    source): unlike the x34b tf frame (an expensive join+agg whose
    recompute the round-6 verdict flagged), segs is a stateless
    scan+split+explode projection, and caching a corpus-sized exploded
    frame trades cheap rescan bandwidth for executor memory pressure —
    the wrong trade at 100 TB.

    Documents with zero tokens produce zero segments and drop out of
    the result (posexplode of an empty array), matching the oracle's
    ``unnest(generate_series(0, -1))``. A document whose every segment
    is duplicated survives with ``kept_text = ''``.

    Returns one row per document: ``n_segments``, ``n_dup_segments``,
    ``kept_words`` (token count after the strip) and ``kept_text``
    (the reassembled document, original segment order).
    """
    segs = doc_segments(
        docs, text_col=text_col, id_col=id_col, seg_words=seg_words
    )
    dup = (
        segs.groupBy("seg")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= min_df)
        .select("seg", F.lit(True).alias("__dup"))
    )
    return (
        segs.join(dup, "seg", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.count("__dup").alias("n_dup_segments"),
            F.sum(
                F.when(
                    F.col("__dup").isNull(), F.size(F.split("seg", " "))
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("kept_words"),
            kept_text_agg("__dup").alias("kept_text"),
        )
    )


def repeated_spans(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    anchor_words: int = 8,
    min_span_words: int = 16,
) -> DataFrame:
    """Cross-document EXACT repeated-span detection — the
    "dedup repeated substrings across documents" modality (Lee et al.
    2022, *Deduplicating Training Data Makes Language Models Better*,
    there via a monolithic suffix array), re-expressed as a BUCKETED
    shingle-anchor pipeline that never builds a pair set:

    1. every ``anchor_words``-token OVERLAPPING window (one anchor per
       token position) is hashed (128-bit md5 of the window text);
    2. one corpus-scale hash agg counts each anchor's cross-document
       frequency; anchors seen in >= 2 DISTINCT documents are flagged
       (a span repeated across documents has every one of its anchors
       flagged, so no pairwise extension step is needed);
    3. a semi join brings the flag back to (doc, position), and a
       per-document interval merge (classic gaps-and-islands over the
       anchor coverage [pos, pos+k-1]) produces MAXIMAL repeated
       regions, kept when >= ``min_span_words`` tokens.

    Returns one row per maximal repeated region: ``(doc_id,
    span_start, span_end, span_words)`` — token indices, 0-based
    inclusive. A phrase repeated only WITHIN one document does not
    flag (cross-document df), matching the Lee et al. cross-doc form.

    Semantics note: a maximal flagged run can merge coverage repeated
    against DIFFERENT partner documents into one region — that is the
    "this text appears elsewhere in the corpus" reading, the one a
    scrubbing pass acts on; suffix-array spans-per-pair can be finer.

    Scale shape (the whole point vs the suffix array): the anchor
    explode is token-count-sized (same factor as trigram shingling in
    jaccard_pairs, ~8x x42's non-overlapping segments); the df count
    is one hash-partitioned agg; the flag-back join is a semi join on
    the md5 key; and the interval merge runs under ONE per-document
    sort — both window expressions share the (doc_id, pos) spec, and
    the island/rollup groupBys reuse the window's hash partitioning
    (HashPartitioning(doc_id) satisfies their clustered distribution),
    so nothing re-shuffles after the join. No all-pairs anywhere:
    cost is O(corpus tokens) map work + two corpus-token-scale
    shuffles, however many documents share a span."""
    from pyspark import StorageLevel

    # anchors feeds two consumers (the df count and the flag-back
    # probe side) — persist the tokenize+md5 corpus pass once instead
    # of running it per consumer (round 16; the jaccard/minhash idiom)
    anchors = doc_anchors(
        docs, text_col=text_col, id_col=id_col, anchor_words=anchor_words
    ).persist(StorageLevel.MEMORY_AND_DISK)
    flagged = (
        anchors.groupBy("anchor")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("anchor")
    )
    hits = anchors.join(flagged, "anchor", "left_semi")
    return tag_intermediates(
        anchor_spans(hits, anchor_words, min_span_words), (anchors,)
    )


def doc_anchors(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    anchor_words: int = 8,
) -> DataFrame:
    """(doc_id, pos, anchor): the md5 of every OVERLAPPING
    ``anchor_words``-token window, one per 0-based token position —
    the shared segmentation under :func:`repeated_spans` and the
    streaming span-scrub sink (one definition, so their outputs
    compose). Docs shorter than ``anchor_words`` produce zero rows."""
    k = anchor_words
    # spread_input: one md5 per token position is the map-heavy shape
    # the single-split scan serializes (see doc_shingles)
    toked = spread_input(docs).select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks")
    )
    cnt = F.size("__toks")
    # 1-based start positions; guard short docs (sequence would descend)
    starts = F.when(cnt >= k, F.sequence(F.lit(1), cnt - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return toked.select(
        "doc_id",
        F.posexplode(
            F.transform(
                starts,
                lambda i: F.md5(F.concat_ws(" ", F.slice("__toks", i, k))),
            )
        ).alias("pos", "anchor"),  # pos = 0-based anchor start
    )


def anchor_spans(
    hits: DataFrame, anchor_words: int, min_span_words: int
) -> DataFrame:
    """Maximal repeated regions from FLAGGED anchor positions: per-doc
    interval merge of the coverage [pos, pos+k-1] (classic
    gaps-and-islands — new island when coverage starts past the running
    max end + 1, so overlapping AND adjacent coverage merge), kept at
    >= ``min_span_words`` tokens. ``hits`` must carry (doc_id, pos).
    Both groupBys reuse the window's hash partitioning — one shuffle."""
    k = anchor_words
    hits = hits.select(
        "doc_id", "pos", (F.col("pos") + F.lit(k - 1)).alias("end")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    islands = hits.withColumn(
        "__new",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0),
    ).withColumn(
        "__island",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy("doc_id", "__island")
        .agg(F.min("pos").alias("span_start"), F.max("end").alias("span_end"))
        .withColumn(
            "span_words", F.col("span_end") - F.col("span_start") + F.lit(1)
        )
        .filter(F.col("span_words") >= min_span_words)
        .select("doc_id", "span_start", "span_end", "span_words")
    )


def scrub_repeated_spans(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    anchor_words: int = 8,
    min_span_words: int = 16,
    spans: DataFrame | None = None,
) -> DataFrame:
    """The ACTING form of :func:`repeated_spans` — remove every token
    covered by a qualifying cross-document repeated span (Lee et al.
    2022 scrub the spans rather than drop whole documents, preserving
    the unique remainder). Returns one row per input document:
    ``(doc_id, n_tokens, kept_words, kept_text)`` — documents with no
    qualifying span keep their text verbatim (``kept_text`` is the
    space-rejoin of the kept tokens, which equals the original text
    modulo collapsed whitespace — the same normalization ``tokens``
    applies everywhere else).

    Pass ``spans`` to scrub against an externally computed span set
    (the streaming sink computes spans against cumulative cross-epoch
    anchor counts); default is this corpus's own :func:`repeated_spans`.

    Scale shape: spans are collected per document (bounded by
    doc_len / min_span_words rows of two ints — never corpus-scale
    driver state), joined back on doc_id, and the token filter is one
    codegen'd HOF pass with an index lambda."""
    sp = (
        spans
        if spans is not None
        else repeated_spans(
            docs,
            text_col=text_col,
            id_col=id_col,
            anchor_words=anchor_words,
            min_span_words=min_span_words,
        )
    )
    per_doc = sp.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toked = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks")
    )
    covered = lambda i: F.exists(  # noqa: E731
        "__spans",
        lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
    )
    kept = F.when(
        F.col("__spans").isNull(), F.col("__toks")
    ).otherwise(F.filter("__toks", lambda t, i: ~covered(i)))
    return (
        toked.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.size("__toks").cast("int").alias("n_tokens"),
            F.size(kept).cast("int").alias("kept_words"),
            F.array_join(kept, " ").alias("kept_text"),
        )
    )


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a materialized token array.

    ``toks`` MUST be a bound array column (not an inline split(...)
    expression): lambda bodies re-evaluate their inputs per element, so an
    inline tokenizer turns shingling into O(tokens^2) string work per row
    — measured 6x slower at sf0.1.
    """
    cnt = F.size(toks)
    idx = F.sequence(F.lit(1), cnt - (n - 1))  # 1-based start positions
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + off) for off in range(n)]
        ),
    )
    return F.when(cnt >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Shingles straight from text — convenience form for single use."""
    return shingles_from_tokens(tokens(text), n)


def spread_input(docs: DataFrame) -> DataFrame:
    """Round-robin repartition a frame whose scan yields far fewer
    splits than the cluster has cores — guide §2.5's "one huge
    unsplittable file" input-skew fix, SCALE-ADAPTIVE and applied only
    at the entry of MAP-HEAVY text kernels (round 16).

    Why surgical, not in read_table: profiled at sf0.1, every testdata
    parquet is one file with ONE row group, so a scan is a single task
    and everything below the first exchange serializes — x7 spent 4.7 s
    of its wall in one single-task tokenize+shingle+8xmd5 partial
    aggregate, x32 7.3 of 7.5 s across three such stages, on 32 cores.
    But the same repartition applied to EVERY read measured 1.1-2.7x
    SLOWER on the cheap-map queries (q1 0.41->1.13 s, x1 0.26->0.50 s):
    where per-row compute is light or the next operator re-exchanges by
    key anyway, the extra exchange is pure overhead. So only the
    shingle/tokenize kernels — whose per-row cost (tokenize + n-gram
    build + k salted md5s) dwarfs a row's shuffle bytes — opt in.

    Scale posture: triggers only when the input's split count is below
    a quarter of ``defaultParallelism``; a 100 TB corpus scans as
    thousands of splits, making this a structural no-op — nothing is
    tuned to the local core count. Results are partition-independent
    by engine-wide design (integer/rounded aggregates; pinned by the
    repartition-stability tests). Conf
    ``spark.graft.scan.adaptiveParallelism`` ("true" default) disables
    it for A/B harnesses.

    Planning cost: the ``docs.rdd.getNumPartitions()`` probe analyzes,
    optimizes and physically plans the whole ``docs`` lineage once more
    on every call (the enclosing query plans it again when it runs) and
    computes its splits, listing the input files; it launches no job.
    On a 4-core Xeon host, a fresh scan-rooted frame cost 20-27 ms and
    an 8-join lineage over the same scan 120-175 ms, so a caller that
    passes a deep frame pays one extra Catalyst pass per call."""
    try:
        spark = docs.sparkSession
        if (
            spark.conf.get("spark.graft.scan.adaptiveParallelism", "true")
            != "true"
        ):
            return docs
        par = spark.sparkContext.defaultParallelism
        if docs.rdd.getNumPartitions() * 4 > par:
            return docs
    except Exception:
        # best-effort: an exotic frame/session falls back unspread
        return docs
    return docs.repartition(par)


def doc_shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(doc_id, shingle) exploded pairs; tokenizes once per row.

    The input is spread across the executor first (:func:`spread_input`)
    — every downstream consumer (signature aggregation, shingle joins,
    size counts) does its map-side work per shingle row, so a
    single-split input serializes the whole kernel otherwise."""
    toked = spread_input(docs).select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks")
    )
    return toked.select(
        "doc_id", F.explode(shingles_from_tokens(F.col("__toks"), n)).alias("shingle")
    )


def jaccard_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all doc pairs sharing >=1 shingle.

    Self-join on shingle; |A ∩ B| = shared-shingle count, |A ∪ B| from
    per-doc sizes. Pairs with no shared shingle never materialize.

    The self-join is quadratic in the docs sharing a shingle, so a
    boilerplate shingle appearing in m docs costs m^2 join rows in one
    task — the scale wall of exact Jaccard. ``max_df`` is the standard
    mitigation: drop shingles occurring in more than ``max_df`` docs
    from the JOIN side only (sizes keep counting them, so |A ∪ B| is
    still exact). Result: intersections counted over rare shingles
    only — a documented LOWER BOUND on true Jaccard (a pair whose
    overlap is entirely stop-shingles can be missed), which is the
    right direction for a dedup gate: no false merges, bounded skew.
    Default None = exact (the oracle-checked x6 path); the MinHash
    pipeline (x7) remains the first-choice scale path.
    """
    from pyspark import StorageLevel

    # the shingle frame feeds 3-4 consumers (sizes, both join sides,
    # and the df count when max_df is set) — persist it once instead of
    # re-running the tokenize+shingle corpus pass per consumer (the
    # minhash_lsh_dedup idiom; round 16 — profiled at sf0.1 each
    # recompute was a serial single-split stage)
    sh = doc_shingles(docs, text_col, id_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    join_sh = sh
    if max_df is not None:
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
        join_sh = (
            sh.join(dfreq.filter(F.col("__df") <= max_df), "shingle")
            .select("doc_id", "shingle")
        )
    a = join_sh.alias("a")
    b = join_sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return tag_intermediates(
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            stable_round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard"),
        (sh,),
    )


def containment_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """DIRECTED near-dup: containment(A in B) = |A ∩ B| / |A| over n-gram
    shingle sets — the inclusion detector symmetric Jaccard misses (a
    100-token doc quoted whole inside a 10k-token doc scores Jaccard
    ~0.01 but containment 1.0; the standard dedup policy drops the
    contained side). Same shingle self-join shape and scale posture as
    :func:`jaccard_pairs`, including the optional ``max_df`` join-side
    stop-shingle guard (containment then a lower bound); emits ORDERED
    pairs (doc_a, doc_b, containment) = "doc_a is contained in doc_b",
    both directions scored independently.

    ``shingles`` lets a caller hand in a precomputed (and typically
    persisted) ``doc_shingles`` frame so the tokenize+explode corpus
    pass is shared instead of re-planned (round-14 review:
    :func:`containment_keep` paid the full shingle scan twice).
    """
    from pyspark import StorageLevel

    own_sh = shingles is None
    sh = (
        doc_shingles(docs, text_col, id_col, n).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        if own_sh
        # caller-supplied frames arrive already persisted (containment_keep)
        else shingles
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    join_sh = sh
    if max_df is not None:
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
        join_sh = (
            sh.join(dfreq.filter(F.col("__df") <= max_df), "shingle")
            .select("doc_id", "shingle")
        )
    a = join_sh.alias("a")
    b = join_sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") != F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    out = (
        inter.join(sa, "doc_a")
        .withColumn(
            "containment",
            stable_round(F.col("n_inter") / F.col("n_a").cast("double"), 4),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment")
    )
    # persist the shingle pass once when this call built it (the
    # jaccard_pairs rationale; 3 consumers: sizes + both join sides)
    return tag_intermediates(out, (sh,)) if own_sh else out


def tf_cosine_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_df: int | None = None,
    candidate_max_df: int | None = None,
    kernel: str = "join",
) -> DataFrame:
    """Sparse lexical cosine pairs over TERM-FREQUENCY vectors via an
    inverted-index self-join — the bag-of-words complement to the dense
    embedding path (x11) and the set-based Jaccard path (x6/x27):
    cosine(a, b) = sum(tf_a * tf_b) / (||tf_a|| * ||tf_b||).

    Text front-end over :func:`tf_cosine_pairs_from_tf` (whitespace
    tokenization, lowercased); see that function for the scale knobs
    and the ``kernel`` choice.
    """
    terms = spread_input(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")
        ).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    return tf_cosine_pairs_from_tf(
        tf,
        threshold=threshold,
        max_df=max_df,
        candidate_max_df=candidate_max_df,
        kernel=kernel,
    )


def tf_cosine_pairs_from_tf(
    tf: DataFrame,
    *,
    threshold: float = 0.5,
    max_df: int | None = None,
    candidate_max_df: int | None = None,
    kernel: str = "join",
) -> DataFrame:
    """Sparse cosine pairs from an already-built term-frequency frame
    (doc_id, term, tf) — the core of :func:`tf_cosine_pairs`, exposed
    so corpora whose "terms" are not words (purchase baskets, tag sets,
    n-gram ids) skip the text round-trip entirely.

    ``candidate_max_df`` is the SCALE path (the x27 trade applied to
    cosine, PPJoin's low-frequency-prefix idea): candidate pairs come
    only from terms shared by <= candidate_max_df docs — the join
    fan-out is bounded by df_cap^2 per term instead of df^2 over
    ubiquitous vocabulary — and every candidate is then verified with
    the FULL exact dot product, so reported scores are exact (unlike
    ``max_df``, which prunes the dot itself into a lower bound). A pair
    sharing ONLY high-df boilerplate vocabulary is never considered —
    the documented recall trade; near-identical real documents share
    their rare tokens.

    ``max_df`` and ``candidate_max_df`` are mutually exclusive: the
    first prunes the dot itself (lower-bound scores), the second prunes
    only candidate GENERATION (exact scores). Passing both would
    silently compute one or the other, so it raises ``ValueError``.

    Every sum is INTEGER (tf products and squared norms), so the score
    is bit-exact across engines and partitionings — only the final
    sqrt/divide touch floats, both IEEE-correctly-rounded, then
    ``stable_round`` pins the cut. (A tf-idf-weighted dot would shuffle
    float partial sums in nondeterministic order; idf belongs in the
    TERM FILTER instead: ``max_df`` drops stop-terms from the join —
    same skew guard as x27, and exactly where high-df terms stop
    contributing anyway.) Scale: the join fans out per shared term —
    sum over terms of df^2 pairs — so ``max_df`` / ``candidate_max_df``
    are the knobs that keep the inverted index join linear-ish at
    corpus scale.
    """
    if max_df is not None and candidate_max_df is not None:
        raise ValueError(
            "max_df and candidate_max_df are mutually exclusive: max_df "
            "prunes the dot product (lower-bound scores), candidate_max_df "
            "prunes candidate generation (exact scores); pick one."
        )
    if kernel == "gram":
        # ``kernel="gram"``: the exact all-pairs path for CLOSED / SMALL
        # vocabularies (round-16). The inverted-index self-join's fan-out
        # is sum over terms of df^2 — on a closed vocabulary every term's
        # df grows with the corpus, so the join is quadratic in ROWS
        # SHUFFLED (x34 at sf0.1: 448M join rows from 116k postings, 46 s;
        # SCALING_r15 measured 26.8x per 10x data). The gram kernel blocks
        # doc pairs into bounded (i, j) grid tasks and computes each
        # block's integer dot matrix with one BLAS matmul — identical
        # scores (integer sums are exact in float64, the sqrt/divide/round
        # are the same IEEE ops), ~1000x less per-pair cost, per-task
        # memory bounded by the block size. Pair enumeration is still
        # O(n^2/blocks) FLOPS — for OPEN vocabularies candidate_max_df
        # remains the scale path (sub-quadratic by construction).
        if max_df is not None or candidate_max_df is not None:
            raise ValueError(
                "kernel='gram' is the exact all-pairs kernel; the df "
                "guards only apply to the inverted-index join kernel"
            )
        if threshold <= 0:
            raise ValueError(
                "kernel='gram' requires threshold > 0: the join kernel "
                "only ever emits pairs sharing at least one term, and a "
                "non-positive threshold would let the gram kernel emit "
                "zero-dot pairs the join kernel never sees"
            )
        return _tf_cosine_pairs_gram(tf, threshold=threshold)
    if kernel != "join":
        raise ValueError(f"unknown kernel {kernel!r}; expected 'join' or 'gram'")
    from pyspark import StorageLevel

    if candidate_max_df is not None:
        # Round 16: the candidate path is VECS-ROOTED. Previously tf
        # itself was persisted and fanned into five subtrees (the df
        # count, both rare self-join sides, both dot-join vec sides);
        # AQE materializes query stages and broadcast subtrees
        # CONCURRENTLY, so consumers raced the still-unfilled cache and
        # re-ran tf's upstream fact join from the parquet scan (profiled
        # at sf0.1: the lineitem+orders tf build executed in four
        # separate stages of 5-9 task-seconds each behind one persist).
        # Building the per-doc vector frame FIRST and deriving postings,
        # df counts and candidates from ITS doc-grain cache (one row per
        # doc) leaves tf exactly one consumer: same (doc, term) set,
        # same df counts, identical candidates and scores.
        vecs = (
            tf.groupBy("doc_id")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("term", "tf"))
                ).alias("vec"),
                F.sum(F.col("tf") * F.col("tf")).alias("sq"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        postings = vecs.select(
            "doc_id", F.explode(F.map_keys("vec")).alias("term")
        )
        dft_c = postings.groupBy("term").agg(
            F.count(F.lit(1)).alias("__cdf")
        )
        # rare feeds both sides of the self-join — persist it once
        # instead of re-running the explode + df join per side
        rare = (
            postings.join(
                dft_c.filter(F.col("__cdf") <= candidate_max_df), "term"
            )
            .select("doc_id", "term")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        ra, rb = rare.alias("ra"), rare.alias("rb")
        cands = (
            ra.join(
                rb,
                (F.col("ra.term") == F.col("rb.term"))
                & (F.col("ra.doc_id") < F.col("rb.doc_id")),
            )
            .select(
                F.col("ra.doc_id").alias("doc_a"),
                F.col("rb.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        # Exact full dot for candidate pairs, in VECTOR form: one row
        # per doc carrying its sparse tf map + squared norm, candidate
        # pairs join that frame twice, and the dot is a codegen'd
        # map_zip_with merge — |cands| rows end-to-end. The term-level
        # alternative (cands JOIN tf on doc_a JOIN tf on (doc_b, term))
        # explodes each pair by the doc's whole term list before the
        # shared-term filter — at sf0.1 that was ~80M intermediate rows
        # across two sort-merge joins, and at corpus scale it multiplies
        # every candidate by average doc vocabulary. Doc vocabulary is
        # bounded (docs are bounded), so the map stays small; sums are
        # integer, so scores stay bit-exact across partitionings.
        zero = F.lit(0).cast("long")
        out = (
            cands.join(
                vecs.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("vec").alias("va"),
                    F.col("sq").alias("sq_a"),
                ),
                "doc_a",
            )
            .join(
                vecs.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("vec").alias("vb"),
                    F.col("sq").alias("sq_b"),
                ),
                "doc_b",
            )
            .withColumn(
                "dot",
                F.aggregate(
                    F.map_values(
                        F.map_zip_with(
                            "va",
                            "vb",
                            lambda _, x, y: F.coalesce(x, zero)
                            * F.coalesce(y, zero),
                        )
                    ),
                    zero,
                    lambda acc, v: acc + v,
                ),
            )
            .withColumn(
                "cosine_tf",
                stable_round(
                    F.col("dot")
                    / (
                        F.sqrt(F.col("sq_a").cast("double"))
                        * F.sqrt(F.col("sq_b").cast("double"))
                    ),
                    4,
                ),
            )
            .filter(F.col("cosine_tf") >= threshold)
            .select("doc_a", "doc_b", "cosine_tf")
        )
        return tag_intermediates(out, (rare, vecs))

    # JOIN-KERNEL BASELINE (exact / max_df): tf feeds norms, the df
    # count when max_df is set, and BOTH sides of the dot self-join.
    # When the caller's tf is itself a join+agg, leaving it uncached
    # recomputes that upstream work per subtree (round-6 plan audit:
    # 16 scans, 6x recompute — at 100 TB that is repeated passes over a
    # fact join). One materialization, spill-safe, reused by every
    # branch; ContextCleaner unpersists when the frame is GC'd.
    # Deliberately NOT repartition("term").persist(): pre-keying the
    # cache by term would let the df count and the term-side joins
    # read it exchange-free, but term frequency is Zipfian — the
    # up-front skewed exchange measured slower than the exchanges it
    # removes (sf0.1: x34 16.9 -> 23.4 s, x34b 1.68 -> 1.86 s).
    tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
    norms = tf.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("sq")
    )
    join_tf = tf
    if max_df is not None:
        dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
        join_tf = tf.join(dft.filter(F.col("__df") <= max_df), "term").select(
            "doc_id", "term", "tf"
        )
    a, b = join_tf.alias("a"), join_tf.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.sum(F.col("a.tf") * F.col("b.tf")).alias("dot"))
    )
    return tag_intermediates(
        dots.join(
            norms.select(F.col("doc_id").alias("doc_a"), F.col("sq").alias("sq_a")),
            "doc_a",
        )
        .join(
            norms.select(F.col("doc_id").alias("doc_b"), F.col("sq").alias("sq_b")),
            "doc_b",
        )
        .withColumn(
            "cosine_tf",
            stable_round(
                F.col("dot")
                / (F.sqrt(F.col("sq_a").cast("double")) * F.sqrt(F.col("sq_b").cast("double"))),
                4,
            ),
        )
        .filter(F.col("cosine_tf") >= threshold)
        .select("doc_a", "doc_b", "cosine_tf"),
        (tf,),
    )


def _tf_cosine_pairs_gram(
    tf: DataFrame,
    *,
    threshold: float,
    round_digits: int = 4,
    block_rows: int = 2048,
) -> DataFrame:
    """Blocked gram-matrix kernel for the EXACT tf-cosine pair path
    (same contract as the unguarded join kernel: every unordered doc
    pair with rounded cosine >= threshold, scores bit-identical).

    Same (i, j) grid as similarity._near_dup_pairs_gram, with ONE
    implicit cell (all-pairs): each doc's postings are hashed into one
    of g = ceil(n_docs / block_rows) groups; a doc enters task (t, j)
    as an ``a``-side row for every j and task (i, t) as a ``b``-side
    row for every i, so task (i, j) holds exactly groups i and j and
    the ``doc_a < doc_b`` mask keeps each pair in exactly one task.
    Inside a task the block's dot matrix is one float64 BLAS matmul
    over the task-local dense vocabulary — every dot and squared norm
    is a sum of INTEGER products (exact in float64), and the
    sqrt/divide/round steps are the same IEEE-754 ops as the join
    kernel's expressions, so the emitted pairs and scores are
    bit-identical (pytest-pinned; pairs sharing no term score 0 and
    fail the positive threshold, which is why the caller enforces
    threshold > 0).

    Memory: a task holds two (<= block_rows x V_task) posting matrices
    plus the (<= block_rows^2) similarity matrix — ~35 MB at the 2048
    default. V_task is the task-local DISTINCT TERM count, which is
    what limits this kernel to closed/small vocabularies; when a
    task's dense build would exceed ~64M cells the kernel falls back
    to per-term outer-product accumulation (same integer arithmetic,
    join-fan-out-shaped cost) rather than allocating an unbounded
    matrix."""
    import numpy as np
    import pandas as pd
    from pyspark import StorageLevel

    id_type = tf.schema["doc_id"].dataType.simpleString()
    out_schema = f"doc_a {id_type}, doc_b {id_type}, cosine_tf double"
    scale = float(10**round_digits)

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        a_rows = pdf[pdf["side"] == "a"]
        b_rows = pdf[pdf["side"] == "b"]
        empty = pd.DataFrame(
            {
                "doc_a": pdf["doc_id"].iloc[:0],
                "doc_b": pdf["doc_id"].iloc[:0],
                "cosine_tf": pd.Series([], dtype="float64"),
            }
        )
        if a_rows.empty or b_rows.empty:
            return empty
        a_idx, a_docs = pd.factorize(a_rows["doc_id"])
        b_idx, b_docs = pd.factorize(b_rows["doc_id"])
        terms = pd.factorize(pd.concat([a_rows["term"], b_rows["term"]]))[0]
        ta, tb = terms[: len(a_rows)], terms[len(a_rows):]
        tfa = a_rows["tf"].to_numpy(dtype=np.float64)
        tfb = b_rows["tf"].to_numpy(dtype=np.float64)
        na, nb, v = len(a_docs), len(b_docs), int(terms.max()) + 1
        sqa = np.zeros(na)
        sqb = np.zeros(nb)
        np.add.at(sqa, a_idx, tfa * tfa)
        np.add.at(sqb, b_idx, tfb * tfb)
        if (na + nb) * v <= 64_000_000:
            ma = np.zeros((na, v))
            mb = np.zeros((nb, v))
            ma[a_idx, ta] = tfa
            mb[b_idx, tb] = tfb
            dot = ma @ mb.T
        else:
            # accumulation fallback: group postings by term and add one
            # integer outer product per shared term — never allocates
            # the dense vocabulary, costs what the join kernel's
            # fan-out costs (sum over terms of df_a * df_b)
            dot = np.zeros((na, nb))
            oa, ob = np.argsort(ta, kind="stable"), np.argsort(tb, kind="stable")
            ta_s, tb_s = ta[oa], tb[ob]
            ua, sa = np.unique(ta_s, return_index=True)
            ub, sb = np.unique(tb_s, return_index=True)
            ea = np.append(sa[1:], len(ta_s))
            eb = np.append(sb[1:], len(tb_s))
            pa = {t: (sa[i], ea[i]) for i, t in enumerate(ua)}
            for i, t in enumerate(ub):
                span = pa.get(t)
                if span is None:
                    continue
                ia = oa[span[0]: span[1]]
                ib = ob[sb[i]: eb[i]]
                dot[np.ix_(a_idx[ia], b_idx[ib])] += np.outer(tfa[ia], tfb[ib])
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = dot / np.outer(np.sqrt(sqa), np.sqrt(sqb))
        # stable_round, vectorized: floor(|x|*s + 0.5)/s with sign back
        rounded = (
            np.floor(np.abs(sim) * scale + 0.5)
            / scale
            * np.where(sim < 0, -1.0, 1.0)
            + 0.0
        )
        keep = (
            a_docs.to_numpy()[:, None] < b_docs.to_numpy()[None, :]
        ) & (rounded >= threshold)
        ia, ib = np.nonzero(keep)
        if not len(ia):
            return empty
        return pd.DataFrame(
            {
                "doc_a": a_docs.to_numpy()[ia],
                "doc_b": b_docs.to_numpy()[ib],
                "cosine_tf": rounded[ia, ib],
            }
        )

    # tf feeds the block-count agg and both replicated sides — persist
    # once (the join kernel's rationale; for x34 tf is a corpus explode
    # + groupBy that would otherwise run 3x)
    tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
    meta = tf.agg(
        F.ceil(F.count_distinct(F.col("doc_id")) / F.lit(block_rows))
        .cast("int")
        .alias("g")
    )
    tagged = tf.crossJoin(F.broadcast(meta)).withColumn(
        "grp", F.pmod(F.xxhash64("doc_id"), F.col("g")).cast("int")
    )
    others = F.explode(F.sequence(F.lit(0), F.col("g") - 1))
    a_side = tagged.select(
        F.col("grp").alias("i"),
        others.alias("j"),
        F.lit("a").alias("side"),
        "doc_id",
        "term",
        "tf",
    )
    b_side = tagged.select(
        others.alias("i"),
        F.col("grp").alias("j"),
        F.lit("b").alias("side"),
        "doc_id",
        "term",
        "tf",
    )
    out = (
        a_side.unionByName(b_side)
        .groupBy("i", "j")
        .applyInPandas(kern, out_schema)
    )
    return tag_intermediates(out, (tf,))


def containment_keep(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Keep/drop policy over :func:`containment_pairs` — the corpus-flow
    consumer of directed containment: a doc DROPS when it is contained
    (containment >= threshold) in a strictly larger doc, shingle-count
    ties broken toward the smaller doc_id. The rule is a total order on
    each directed pair, so it is deterministic, pairwise (not transitive
    — same contract as the ingest sink's near-dedup: any surviving
    superset still catches future subsets), and exactly expressible in
    SQL for the oracle. Mutually-contained near-identical docs collapse
    to the min id; a subset chain A < B < C keeps only C.

    Output contract matches the other keep/drop operators:
    (doc_id, keep, reason) with reason in ('contained', 'kept').
    Scale posture: the pair generation is the x6-family exact baseline
    (quadratic on colliding shingles — use ``max_df`` to cut
    stop-shingles); the policy layer itself adds two broadcast-size
    joins over the pair set."""
    from pyspark import StorageLevel

    # ONE persisted shingle pass (round-14 review): the pair generation
    # and the size policy joins both need the tokenize+explode corpus
    # scan — without sharing it, the full explode ran twice per call
    # (the x34b recompute lesson). The bm25_topk persist+tag pattern:
    # caller releases via cache.unpersist_intermediates after
    # materializing.
    sh = doc_shingles(docs, text_col, id_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    pairs = containment_pairs(
        docs, text_col=text_col, id_col=id_col, n=n,
        threshold=threshold, max_df=max_df, shingles=sh,
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    losers = (
        pairs.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")),
            "doc_b",
        )
        .filter(
            (F.col("n_b") > F.col("n_a"))
            | ((F.col("n_b") == F.col("n_a")) & (F.col("doc_b") < F.col("doc_a")))
        )
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("__drop", F.lit(True))
    )
    return tag_intermediates(
        docs.select(F.col(id_col).alias("doc_id"))
        .join(losers, "doc_id", "left")
        .select(
            "doc_id",
            F.col("__drop").isNull().alias("keep"),
            F.when(F.col("__drop"), F.lit("contained"))
            .otherwise(F.lit("kept"))
            .alias("reason"),
        ),
        (sh,),
    )


def _sig_aggs(num_hashes: int, *, count_col: str | None = None) -> list[Column]:
    """THE minhash aggregation list — min(md5(j ':' shingle)) per hash
    slot, optionally plus a shingle count. Single spelling (round-12
    review: five call sites carried byte-identical copies; a salt or
    hash change missed at one site would silently break the
    signature-compatibility contract between build_dedup_index and the
    incremental paths). Every signature producer MUST aggregate through
    this helper."""
    aggs: list[Column] = [
        F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("shingle")))).alias(
            f"minhash_{j}"
        )
        for j in range(num_hashes)
    ]
    if count_col is not None:
        aggs.append(F.count(F.lit(1)).alias(count_col))
    return aggs


def minhash_signatures(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """One row per doc: minhash_0..minhash_{k-1} (md5-hex min-hash).

    Single shuffle: explode shingles -> groupBy doc with k min-aggs.

    Measured note (sf0.1, n=5 medians): min over the hex STRING plans
    as SortAggregate (string buffers aren't hash-aggregable) yet beats
    a numeric conv(substr(md5,1,15),16,10) bigint min-hash by ~25%
    end-to-end — the 8 per-shingle conv() parses cost more than the
    sort-agg they eliminate. Don't "optimize" this to numeric without
    re-measuring.
    """
    sh = doc_shingles(docs, text_col, id_col, shingle_n)
    return sh.groupBy("doc_id").agg(*_sig_aggs(num_hashes))


def band_frame(
    signatures: DataFrame, *, num_hashes: int = 8, bands: int = 4
) -> DataFrame:
    """(doc_id, band_idx, band_hash) — one row per doc per LSH band.

    Band hash = md5 of the concatenated signature slice. This is the
    shared bucket-key frame for BOTH dedup shapes: self-join (corpus
    against itself, :func:`lsh_candidate_pairs`) and cross-join (new
    batch against an existing corpus, :func:`incremental_dedup`).

    ``bands`` must divide ``num_hashes`` exactly (round-12 review):
    trailing hashes would otherwise be silently unused (changed LSH
    sensitivity with no error), and bands > num_hashes would give every
    doc the md5('') band hash — all docs colliding in every bucket, an
    all-pairs cross product."""
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"band_frame: bands={bands} must be a positive divisor of "
            f"num_hashes={num_hashes} (rows_per_band would be "
            f"{num_hashes // bands if bands else 'undefined'} with "
            f"{num_hashes % bands if bands else num_hashes} hashes ignored)"
        )
    rows_per_band = num_hashes // bands
    band_cols = [
        F.md5(
            F.concat_ws(
                "|",
                *[
                    F.col(f"minhash_{b * rows_per_band + r}")
                    for r in range(rows_per_band)
                ],
            )
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    banded = signatures.select("doc_id", *band_cols)
    return banded.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"), F.col(f"band_{b}").alias("band_hash")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_hash")


def lsh_candidate_pairs(
    signatures: DataFrame, *, num_hashes: int = 8, bands: int = 4
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become candidate pairs.

    The bucket join shuffles on (band_idx, band_hash) — only same-bucket
    docs ever meet, which is what makes near-dup detection sub-quadratic
    at scale.
    """
    stacked = band_frame(signatures, num_hashes=num_hashes, bands=bands)
    a = stacked.alias("a")
    b = stacked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def minhash_lsh_dedup(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Full pipeline: candidates from LSH, verified with exact Jaccard.

    Exact verification runs ONLY over the candidate pairs — that
    restriction (not the signatures) is what makes MinHash sub-quadratic:
    the shingle self-join is gated by the (small, broadcastable) candidate
    set instead of touching every colliding doc pair in the corpus.

    The shingle frame feeds four consumers (signatures, both join sides,
    sizes); without persisting it the source is re-scanned and re-shingled
    per consumer — at 100 TB that is 4x the dominant cost. MEMORY_AND_DISK
    keeps it correct when the corpus exceeds executor memory; a production
    pipeline would checkpoint it to the warehouse instead.
    """
    from pyspark import StorageLevel

    sh = doc_shingles(docs, text_col, id_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # signatures AND shingle-set sizes in ONE aggregation pass over sh
    # (they share the doc_id grouping; a separate sizes groupBy would
    # re-scan and re-shuffle the whole shingle frame for one count)
    sig_sizes = sh.groupBy("doc_id").agg(
        *_sig_aggs(num_hashes, count_col="n_sh")
    ).persist(StorageLevel.MEMORY_AND_DISK)  # tiny: one row per doc
    cands = lsh_candidate_pairs(sig_sizes, num_hashes=num_hashes, bands=bands)
    sizes = sig_sizes.select("doc_id", "n_sh")
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cands.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            stable_round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                4,
            ).alias("jaccard"),
        )
    )
    if threshold > 0:
        # Candidates sharing ZERO shingles (possible only via band-hash
        # collision) have jaccard 0 and can't pass a positive threshold,
        # so the cands-left-join-jac shape below is a no-op here — and
        # skipping it avoids re-running the band self-join (cands has
        # two consumers otherwise; this was 2 of x7's 14 exchanges).
        return tag_intermediates(
            jac.filter(F.col("jaccard") >= threshold).select(
                "doc_a", "doc_b", "jaccard"
            ),
            (sh, sig_sizes),
        )
    return tag_intermediates(
        cands.join(jac, ["doc_a", "doc_b"], "left")
        .withColumn("jaccard", F.coalesce(F.col("jaccard"), F.lit(0.0)))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard"),
        (sh, sig_sizes),
    )


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.2,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Dedup an incoming batch AGAINST an existing corpus — the
    ingestion-time shape (A vs index), distinct from the self-join
    corpus dedup: a batch doc is judged, never a corpus doc, and the
    corpus side would be pre-computed fingerprint/signature INDEX tables
    in a production pipeline (here derived inline; at 100 TB persist
    them once and append per batch — every join below is against those
    two narrow indexes, so daily ingest never rescans corpus text).

    One row per batch doc: (doc_id, keep, reason) with reason
    'exact' (content fingerprint already in corpus, checked first),
    'near_dup' (shares an LSH band bucket with a corpus doc AND exact
    cross-side Jaccard >= threshold), else 'kept'.
    """
    from pyspark import StorageLevel

    fp = fingerprint128(F.col(text_col))
    b_ids = batch.select(F.col(id_col).alias("doc_id"))
    b_fp = batch.select(F.col(id_col).alias("doc_id"), fp.alias("fp"))
    c_fp = corpus.select(fp.alias("fp")).distinct()
    exact = (
        b_fp.join(c_fp, "fp", "left_semi")
        .select("doc_id")
        .withColumn("__exact", F.lit(True))
    )

    # each side is shingled ONCE and persisted; signatures + set sizes
    # come out of one aggregation over that frame (the minhash_lsh_dedup
    # idiom) — these two narrow frames per side ARE the dedup index a
    # production pipeline would persist and append to
    sh_b = doc_shingles(batch, text_col, id_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sh_c = doc_shingles(corpus, text_col, id_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    def sig_sizes(sh: DataFrame) -> DataFrame:
        return sh.groupBy("doc_id").agg(
            *_sig_aggs(num_hashes, count_col="n_sh")
        )

    ss_b = sig_sizes(sh_b).persist(StorageLevel.MEMORY_AND_DISK)
    ss_c = sig_sizes(sh_c).persist(StorageLevel.MEMORY_AND_DISK)
    bands_b = band_frame(ss_b, num_hashes=num_hashes, bands=bands).select(
        F.col("doc_id").alias("b_id"), "band_idx", "band_hash"
    )
    bands_c = band_frame(ss_c, num_hashes=num_hashes, bands=bands).select(
        F.col("doc_id").alias("c_id"), "band_idx", "band_hash"
    )
    cands = (
        bands_b.join(bands_c, ["band_idx", "band_hash"])
        .select("b_id", "c_id")
        .distinct()
    )
    sizes_b = ss_b.select("doc_id", F.col("n_sh").alias("n_b"))
    sizes_c = ss_c.select("doc_id", F.col("n_sh").alias("n_c"))
    inter = (
        cands.join(
            sh_b.select(F.col("doc_id").alias("b_id"), "shingle"), "b_id"
        )
        .join(
            sh_c.select(F.col("doc_id").alias("c_id"), "shingle"),
            ["c_id", "shingle"],
        )
        .groupBy("b_id", "c_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    near = (
        inter.join(sizes_b.select(F.col("doc_id").alias("b_id"), "n_b"), "b_id")
        .join(sizes_c.select(F.col("doc_id").alias("c_id"), "n_c"), "c_id")
        .filter(
            stable_round(
                F.col("n_inter")
                / (F.col("n_b") + F.col("n_c") - F.col("n_inter")).cast("double"),
                4,
            )
            >= threshold
        )
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
        .withColumn("__near", F.lit(True))
    )
    return tag_intermediates(
        b_ids.join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            (F.col("__exact").isNull() & F.col("__near").isNull()).alias("keep"),
            F.when(F.col("__exact"), F.lit("exact"))
            .when(F.col("__near"), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("reason"),
        ),
        (sh_b, sh_c, ss_b, ss_c),
    )


def build_dedup_index(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """One narrow index row per doc: (doc_id, fp, minhash_0..k-1, n_sh).

    This is the persisted corpus-side state of incremental dedup: exact
    checks hit ``fp``, LSH candidates come from the signature columns,
    and ``n_sh`` completes the Jaccard denominator — so the per-batch
    ingest path below never rescans corpus TEXT except for the few
    candidate docs it must verify. Append the kept batch's index rows
    after every ingest (see ``streaming.sink.dedup_ingest_sink``)."""
    sh = doc_shingles(docs, text_col, id_col, shingle_n)
    sig = sh.groupBy("doc_id").agg(*_sig_aggs(num_hashes, count_col="n_sh"))
    fp = docs.select(
        F.col(id_col).alias("doc_id"),
        fingerprint128(F.col(text_col)).alias("fp"),
    )
    # left join: a doc too short to shingle still gets an exact-dedup row
    return fp.join(sig, "doc_id", "left")


def build_band_index(
    index: DataFrame, *, num_hashes: int = 8, bands: int = 4
) -> DataFrame:
    """Pre-exploded LSH band rows for a :func:`build_dedup_index` frame:
    (doc_id, band_idx, band_hash), one row per shingleable doc per band.

    Persisting THIS frame (bucketed on the band key — see
    ``streaming.sink.dedup_ingest_sink``) is what makes the per-epoch
    candidate join shuffle-free on the corpus side: the explode and the
    band hashing are paid once at index-build time instead of on every
    ingest epoch, and a bucket-aligned scan replaces the re-shuffle of
    the ever-growing index."""
    return band_frame(
        index.filter(F.col("n_sh").isNotNull()),
        num_hashes=num_hashes,
        bands=bands,
    )


def incremental_dedup_indexed(
    index: DataFrame,
    corpus: DataFrame,
    batch: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.2,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    band_index: DataFrame | None = None,
    candidate_pushdown: int = 0,
) -> DataFrame:
    """:func:`incremental_dedup` against a PRE-BUILT corpus index — the
    shape that holds at 100 TB: the only full scans are the narrow index
    and the batch; corpus TEXT is needed just for the docs that became
    LSH candidates, so per-batch cost tracks batch size + candidate
    count, not corpus size.

    ``index`` must be :func:`build_dedup_index` output for ``corpus``
    (same hash/band/shingle parameters). ``band_index``, when given,
    must be :func:`build_band_index` output for the same index; the
    candidate join then uses it directly instead of re-deriving band
    hashes — with the band index persisted bucketed on
    (band_idx, band_hash) the join needs no shuffle of the corpus side
    at all. Same output contract: (doc_id, keep, reason).

    ``candidate_pushdown`` — the corpus-IO contract. The candidate set
    is batch-bounded (each batch doc collides with a handful of corpus
    bands), but a plain semi join only avoids SHUFFLING the corpus: the
    parquet scan under it still reads every corpus text page each epoch,
    which at 100 TB is an every-epoch full-corpus read. With
    ``candidate_pushdown`` = N > 0, when there are at most N distinct
    candidate corpus ids they are collected (bounded driver memory:
    N ids, no payload) and pushed into the corpus scan as an ``In``
    predicate, so parquet row-group stats + dictionary filtering skip
    the text pages of every row group holding no candidate — per-epoch
    corpus IO then tracks the candidate count, not the corpus size
    (pinned by ``tests/test_streaming.py`` epoch-flatness evidence).
    More than N candidates falls back to the semi join. NOTE: a
    positive value makes this call EAGER (it runs the candidate job at
    plan-build time); keep the default 0 in lazily-registered query
    paths and enable it in ingest loops (``dedup_ingest_sink`` does)."""
    from pyspark import StorageLevel

    b_ids = batch.select(F.col(id_col).alias("doc_id"))
    b_fp = batch.select(
        F.col(id_col).alias("doc_id"), fingerprint128(F.col(text_col)).alias("fp")
    )
    # semi join needs no distinct on the right side — and skipping it
    # keeps the index scan shuffle-free (bucketed-on-fp persisted form)
    exact = (
        b_fp.join(index.select("fp"), "fp", "left_semi")
        .select("doc_id")
        .withColumn("__exact", F.lit(True))
    )

    sh_b = doc_shingles(batch, text_col, id_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    ss_b = sh_b.groupBy("doc_id").agg(
        *_sig_aggs(num_hashes, count_col="n_sh")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    bands_b = band_frame(ss_b, num_hashes=num_hashes, bands=bands).select(
        F.col("doc_id").alias("b_id"), "band_idx", "band_hash"
    )
    idx_sig = index.filter(F.col("n_sh").isNotNull())
    bands_c = (
        band_index
        if band_index is not None
        else band_frame(idx_sig, num_hashes=num_hashes, bands=bands)
    ).select(F.col("doc_id").alias("c_id"), "band_idx", "band_hash")
    cands = (
        bands_b.join(bands_c, ["band_idx", "band_hash"])
        .select("b_id", "c_id")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # shingle ONLY the candidate corpus docs (the scan-pruning payoff)
    cand_ids_frame = cands.select(F.col("c_id").alias(id_col)).distinct()
    corpus_cand = None
    if candidate_pushdown > 0:
        # count first: the action materializes the persisted `cands`
        # fully (a limit+collect probe would cache only the partitions
        # it touched, re-running the band join during the main pass)
        n_cand = cand_ids_frame.count()
        if n_cand == 0:
            corpus_cand = corpus.filter(F.lit(False))
        elif n_cand <= candidate_pushdown:
            cand_ids = [r[id_col] for r in cand_ids_frame.collect()]
            # In-predicate reaches the parquet scan's PushedFilters ->
            # row-group/dictionary skipping; the semi join below cannot
            # prune IO, only shuffles
            corpus_cand = corpus.filter(F.col(id_col).isin(cand_ids))
    if corpus_cand is None:
        corpus_cand = corpus.join(cand_ids_frame, id_col, "left_semi")
    sh_c = doc_shingles(corpus_cand, text_col, id_col, shingle_n)
    inter = (
        cands.join(sh_b.select(F.col("doc_id").alias("b_id"), "shingle"), "b_id")
        .join(
            sh_c.select(F.col("doc_id").alias("c_id"), "shingle"),
            ["c_id", "shingle"],
        )
        .groupBy("b_id", "c_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    near = (
        inter.join(ss_b.select(F.col("doc_id").alias("b_id"),
                               F.col("n_sh").alias("n_b")), "b_id")
        .join(idx_sig.select(F.col("doc_id").alias("c_id"),
                             F.col("n_sh").alias("n_c")), "c_id")
        .filter(
            stable_round(
                F.col("n_inter")
                / (F.col("n_b") + F.col("n_c") - F.col("n_inter")).cast("double"),
                4,
            )
            >= threshold
        )
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
        .withColumn("__near", F.lit(True))
    )
    return tag_intermediates(
        b_ids.join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            (F.col("__exact").isNull() & F.col("__near").isNull()).alias("keep"),
            F.when(F.col("__exact"), F.lit("exact"))
            .when(F.col("__near"), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("reason"),
        ),
        (sh_b, ss_b, cands),
    )


def connected_components(
    edges: DataFrame,
    *,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """(node, component_id) for every node in ``edges``; component_id =
    min node id reachable over the undirected edge set.

    This is dedup's last mile: near-dup PAIRS (x7/x11) become KEEP/DROP
    decisions only after transitive closure groups them into clusters
    (keeper = min id = the component id). Implemented as iterative
    min-label propagation — each round every node takes the min of its
    own and its neighbors' labels; convergence needs at most
    graph-diameter rounds (near-dup clusters are shallow). Per round:
    one join + one groupBy shuffle, then ``localCheckpoint`` to cut the
    exponentially-growing lineage — the standard Spark pattern for
    iterative algorithms. The per-round ``count()`` is the convergence
    test (an aggregate, not a data collect). At extreme scale the
    large-star/small-star variant halves round count; propagation keeps
    the code one screen and the oracle expressible as a recursive CTE.

    Measured note (sf0.1, median of 3): adding shortcutting (a second
    label-of-label join per round) was ~6% SLOWER end-to-end here —
    near-dup clusters are shallow, so the saved round doesn't pay for
    the extra join. Re-measure before adding it for deeper graphs.

    Two round-count optimizations (identical fixpoint):
    - round 1 is FUSED into initialization: labels start at
      min(node, min(neighbors)) straight from the edge aggregate — the
      same frame the self-label round would produce, for one groupBy
      instead of a join + groupBy + checkpoint.
    - convergence probes an AGGREGATE, not a join, when ids are
      NUMERIC: labels are monotone non-increasing, so sum(comp)
      strictly decreases iff any node changed; comparing two exact
      DECIMAL(38) sums replaces the old-vs-new equi-join + filter +
      count each round. For NON-numeric ids (string doc hashes) the
      decimal cast is NULL and the sums would compare None == None
      after round 1, silently returning non-minimal components
      (round-12 review) — those fall back to the exact old-vs-new
      join probe, which is type-agnostic.
    """
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = sym.union(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = sym.distinct().localCheckpoint(eager=True)
    labels = (
        sym.groupBy("u")
        .agg(F.min("v").alias("min_v"))
        .select(
            F.col("u").alias("node"),
            F.least(F.col("u"), F.col("min_v")).alias("comp"),
        )
        .localCheckpoint(eager=True)
    )

    from pyspark.sql.types import NumericType

    numeric_ids = isinstance(labels.schema["comp"].dataType, NumericType)

    def _label_sum(frame) -> object:
        return frame.agg(
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
        ).first()["s"]

    prev_sum = _label_sum(labels) if numeric_ids else None
    for _ in range(max_iter):
        neigh = (
            sym.join(labels, sym.v == labels.node)
            .groupBy("u")
            .agg(F.min("comp").alias("neigh_comp"))
        )
        prev_labels = labels
        labels = (
            labels.join(neigh, labels.node == neigh.u, "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce("neigh_comp", F.col("comp"))
                ).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        if numeric_ids:
            cur_sum = _label_sum(labels)
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        else:
            # exact probe for non-numeric ids: any label change?
            # (both frames are checkpointed, so this is one narrow
            # node-keyed join, no lineage replay)
            changed = labels.join(
                prev_labels.select(
                    "node", F.col("comp").alias("__prev_comp")
                ),
                "node",
            ).filter(F.col("comp") != F.col("__prev_comp"))
            if changed.isEmpty():
                break
    return labels.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component_id")
    )


def cluster_representatives(
    components: DataFrame,
    scored: DataFrame,
    *,
    id_col: str = "doc_id",
    score_col: str = "quality_score",
) -> DataFrame:
    """Pick the document to KEEP from each near-dup cluster: the member
    with the highest quality score (ties broken by min id, so the choice
    is total-ordered and replay-stable). This is the step that turns a
    dedup clustering into an actual curation decision — naive min-id
    keeps whatever crawled first; score-ranked keep retains the best
    version of the duplicated content.

    Input: ``components`` = (id, component_id) from
    :func:`connected_components`; ``scored`` = (id, score) per doc.
    Output: one row per cluster — component_id, keep_<id_col>,
    n_members, best_score.

    A member MISSING from ``scored`` still counts (round-14 review: the
    old inner join silently shrank n_members and made a cluster with no
    scored member vanish entirely, dropping every member from the
    downstream keep-list): the join is LEFT, an unscored member ranks
    after every scored one (desc NULLS LAST, both engines' default for
    DESC), and an all-unscored cluster falls back to the min-id keeper
    with best_score NULL.

    Shape: one equi-join on the doc id, then a window partitioned by
    component_id. Cluster sizes are bounded by near-dup cluster width
    (shallow, small), so the window partitions are tiny; everything
    shuffles on high-cardinality keys. No collect, no skew funnel.
    """
    joined = components.join(scored.select(id_col, score_col), id_col, "left")
    w = Window.partitionBy("component_id").orderBy(
        F.desc_nulls_last(score_col), F.asc(id_col)
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("component_id")),
        )
        .filter(F.col("rn") == 1)
        .select(
            "component_id",
            F.col(id_col).alias(f"keep_{id_col}"),
            F.col("n_members").cast("bigint").alias("n_members"),
            F.col(score_col).alias("best_score"),
        )
    )


def source_overlap_matrix(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    shingle_n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Cross-corpus contamination report: per source pair, how much
    shingle vocabulary the two corpora share. One row per unordered
    source pair with at least one shared shingle: (source_a, source_b,
    shared_shingles, overlap), where ``overlap`` = shared /
    min(|A|, |B|) (the overlap coefficient over distinct shingle sets —
    1.0 means the smaller corpus's shingles are entirely contained in
    the larger, the "my eval set leaked into a training source" alarm).

    Shape for scale: everything is computed on the (source, shingle)
    DISTINCT grain — doc counts never enter a join, so two sources
    sharing a boilerplate shingle across millions of docs still
    contribute ONE row per side. The pair join fans out per shingle as
    (#sources carrying it)^2, bounded by the source count squared —
    and ``max_df`` (sources-per-shingle cap, the x27 stop-shingle
    trade at source grain) cuts ubiquitous vocabulary out of the join
    entirely, making ``shared_shingles`` a documented lower bound
    while per-source set sizes (the denominator) stay exact.
    """
    src = docs.select(
        F.col(id_col).alias("doc_id"), F.col(group_col).alias("grp")
    )
    gsh = (
        doc_shingles(docs, text_col, id_col, shingle_n)
        .join(src, "doc_id")
        .select("grp", "shingle")
        .distinct()
        .persist()
    )
    sizes = gsh.groupBy("grp").agg(F.count(F.lit(1)).alias("n_sh"))
    if max_df is not None:
        # Guarded path: per-shingle source LIST, pairs exploded from the
        # sorted array — one aggregation replaces the two-sided shingle
        # self-join (measured 2.77 -> 1.65 s at sf0.1, identical rows).
        # The df-cap SEMI-JOIN runs BEFORE collect_set so no array ever
        # exceeds max_df entries: collecting first and filtering by
        # size() would materialize one row per boilerplate shingle
        # holding EVERY source carrying it — with a high-cardinality
        # grouping (per-domain corpora) that's an OOM row, the exact
        # failure mode max_df exists to cut.
        dfreq = gsh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
        per = (
            gsh.join(
                dfreq.filter(
                    (F.col("__df") >= 2) & (F.col("__df") <= max_df)
                ),
                "shingle",
                "left_semi",
            )
            .groupBy("shingle")
            .agg(F.sort_array(F.collect_set("grp")).alias("gs"))
        )
        idx = F.sequence(F.lit(0), F.size("gs") - 1)
        shared = (
            per.select(
                F.explode(
                    F.flatten(
                        F.transform(
                            idx,
                            lambda i: F.transform(
                                F.slice(F.col("gs"), i + 2, F.size("gs")),
                                lambda s: F.struct(
                                    F.element_at(F.col("gs"), i + 1).alias(
                                        "source_a"
                                    ),
                                    s.alias("source_b"),
                                ),
                            ),
                        )
                    )
                ).alias("p")
            )
            .groupBy(F.col("p.source_a").alias("source_a"),
                     F.col("p.source_b").alias("source_b"))
            .agg(F.count(F.lit(1)).alias("shared_shingles"))
        )
    else:
        # Exact path: no df cap means a per-shingle source list is
        # unbounded (a shingle in every corpus collects them all), so
        # stay with the streaming-safe two-sided self-join.
        a, b = gsh.alias("a"), gsh.alias("b")
        shared = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.grp") < F.col("b.grp")),
            )
            .groupBy(
                F.col("a.grp").alias("source_a"),
                F.col("b.grp").alias("source_b"),
            )
            .agg(F.count(F.lit(1)).alias("shared_shingles"))
        )
    return tag_intermediates(
        shared.join(
            sizes.select(F.col("grp").alias("source_a"), F.col("n_sh").alias("n_a")),
            "source_a",
        )
        .join(
            sizes.select(F.col("grp").alias("source_b"), F.col("n_sh").alias("n_b")),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            F.col("shared_shingles").cast("bigint").alias("shared_shingles"),
            stable_round(
                F.col("shared_shingles")
                / F.least("n_a", "n_b").cast("double"),
                4,
            ).alias("overlap"),
        ),
        (gsh,),
    )


_HEX = "0123456789abcdef"


def simhash16(docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """16-bit SimHash over whitespace tokens (frequency-weighted).

    Bit b of md5(token) is extracted arithmetically from the hex digit
    (portable to any engine with md5 + integer math). Per doc: sum +-1 per
    bit over all tokens, bit set where the sum is positive.
    """
    # NOT spread_input (round-16 A/B): one md5 + 16 arithmetic bit
    # extractions per token is light enough that the extra exchange
    # measured flat-to-slower (0.95 s off vs 0.99 s on at sf0.1) —
    # unlike the k-salted-md5 shingle kernels doc_shingles feeds
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).withColumn("h4", F.substring(F.md5(F.col("tok")), 1, 4))
    bit_sums = []
    for b in range(16):
        k = b // 4  # hex char index (0-based)
        shift = b % 4
        digit = F.instr(F.lit(_HEX), F.substring(F.col("h4"), k + 1, 1)) - 1
        bit = F.floor(digit / (2 ** shift)) % 2
        bit_sums.append(
            F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"s{b}")
        )
    summed = tok.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for b in range(16):
        term = F.when(F.col(f"s{b}") > 0, F.lit(2 ** b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return summed.select("doc_id", sim.cast("int").alias("simhash"))


def bloom_bits(
    keys: DataFrame,
    key_col: str,
    *,
    m: int = 8192,
    k: int = 3,
) -> DataFrame:
    """Bloom-filter bit set for a key column: the distinct positions lit
    by ``k`` salted md5 hashes into an ``m``-slot array, one row per lit
    position (single ``pos`` column, <= m rows no matter how many keys).

    This is the point of the structure at 100 TB: an eval/benchmark
    shingle set too large to broadcast (billions of strings) compresses
    to a fixed <= m-row relation that ALWAYS broadcasts, so membership
    probes never shuffle the corpus side. md5-prefix arithmetic (the
    _cm_bucket_expr idiom) keeps every engine — and the DuckDB oracle —
    lighting identical bits.
    """
    salts = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("salt")
    salted = keys.select(F.col(key_col).alias("__key"), salts)
    pos = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("salt").cast("string"), F.lit(":"), F.col("__key")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % m
    )
    return salted.select(pos.alias("pos")).distinct()


def bloom_decontaminate(
    train: DataFrame,
    holdout: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    m: int = 8192,
    k: int = 3,
    min_hits: int = 2,
) -> DataFrame:
    """Benchmark decontamination through a Bloom filter, with the exact
    overlap alongside to surface the false-positive cost as data.

    x21 (exact decontamination) equi-joins the corpus shingles against
    the eval shingle SET — correct, but at 100 TB that set itself can be
    billions of strings, too big to broadcast, forcing a shuffle of the
    full corpus shingle stream. The Bloom form probes a <= m-row bit
    relation instead (:func:`bloom_bits`): the corpus side is touched in
    one broadcast-join pass, and only per-doc counts shuffle afterwards.
    The price is one-sided: ``n_bloom >= n_true`` per doc (no false
    negatives, a few false positives from colliding bits), so a Bloom
    flag is a safe OVER-removal gate for decontamination and the exact
    join remains the audit path. Emits docs with ``n_bloom >= min_hits``:
    (doc_id, n_shingles, n_bloom, n_true, n_fp).
    """
    # the distinct holdout shingle set feeds BOTH the bit relation and
    # the exact audit join — compute and persist it once (round-12
    # review: the tokenize+shingle+distinct pipeline previously ran
    # twice per call; a shared unpersisted frame would still re-execute
    # per consumer). Holdout corpora are eval-benchmark sized.
    from pyspark import StorageLevel

    ev_sh = (
        doc_shingles(holdout, text_col, id_col, n)
        .select("shingle")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bits = bloom_bits(ev_sh, "shingle", m=m, k=k)
    tr_sh = doc_shingles(train, text_col, id_col, n)
    salts = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("salt")
    probe = tr_sh.select("doc_id", "shingle", salts)
    pos = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("salt").cast("string"),
                        F.lit(":"),
                        F.col("shingle"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % m
    )
    hits = (
        probe.withColumn("pos", pos)
        .join(F.broadcast(bits), "pos")
        .groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).alias("__k_hits"))
        .filter(F.col("__k_hits") == k)
    )
    n_bloom = hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_bloom"))
    n_true = (
        tr_sh.join(ev_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_true"))
    )
    n_sh = tr_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    return tag_intermediates(
        n_bloom.filter(F.col("n_bloom") >= min_hits)
        .join(n_true, "doc_id", "left")
        .join(n_sh, "doc_id")
        .select(
            "doc_id",
            F.col("n_shingles").cast("bigint").alias("n_shingles"),
            F.col("n_bloom").cast("bigint").alias("n_bloom"),
            F.coalesce(F.col("n_true"), F.lit(0)).cast("bigint").alias("n_true"),
            (F.col("n_bloom") - F.coalesce(F.col("n_true"), F.lit(0)))
            .cast("bigint")
            .alias("n_fp"),
        ),
        (ev_sh,),
    )
