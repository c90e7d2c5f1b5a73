from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from insect_observation_data_pipeline_spark.llm import dedup, multimodal, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
        (3, "the quick brown fox jumps over the sleepy dog"), # near dup
        (4, "completely different words entirely unrelated text here"),
        (5, "ab"),  # < 3 tokens -> no shingles
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_groups(docs):
    out = {r["keeper_id"]: r["n_docs"] for r in dedup.exact_groups(docs).collect()}
    assert out[1] == 2  # docs 1+2 collapse
    assert sum(out.values()) == 5


def test_jaccard_near_dup(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(docs, threshold=0.2).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.4 < pairs[(1, 3)] < 1.0
    assert not any(4 in p or 5 in p for p in pairs)


def test_minhash_lsh_finds_exact_and_near(docs):
    got = {
        (r["doc_a"], r["doc_b"]) for r in dedup.minhash_lsh_dedup(docs, threshold=0.2).collect()
    }
    assert (1, 2) in got  # identical docs always share all bands


def test_simhash_identical_docs_equal(docs):
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash16(docs).collect()}
    assert sigs[1] == sigs[2]
    assert 0 <= sigs[1] < 2**16
    assert sigs[1] != sigs[4]


def test_textstats(spark):
    df = spark.createDataFrame([(1, "the cat sat")], "doc_id long, text string")
    row = df.select(
        textstats.token_count(F.col("text")).alias("n"),
        textstats.lang_id(F.col("text")).alias("lang"),
        textstats.fingerprint64(F.col("text")).alias("fp"),
    ).collect()[0]
    assert row["n"] == 3
    assert row["lang"] == "en"
    assert isinstance(row["fp"], int)


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),
        (2, [0.0, 1.0, 0.0], 1),
        (3, [0.0, 0.9, 0.1], 1),
        (4, [0.0, 0.0, 1.0], 2),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_brute_force_topk(vectors):
    q = vectors.filter("vec_id = 0")
    c = vectors.filter("vec_id > 0")
    out = similarity.brute_force_topk(q, c, k=2).collect()
    assert [r["neighbor_id"] for r in out] == [1, 2]  # nearest first
    assert out[0]["rank"] == 1 and out[0]["cosine_sim"] > 0.99


def test_ivf_routes_to_nearest_cell(vectors):
    q = vectors.filter("vec_id = 0")
    c = vectors.filter("vec_id > 0")
    out = similarity.ivf_topk(q, c, k=2).collect()
    # query [1,0,0] routes to cell 0 (centroid ~[0.9,0.1,0]) -> only doc 1
    assert {r["neighbor_id"] for r in out} == {1}


@pytest.fixture(scope="module")
def skewed_vectors(spark):
    """One mega-cell (48 of 54 rows) — the shape max_cell_rows exists for."""
    import math

    rows = []
    for i in range(48):  # cell 0: near-collinear vectors, many pairs
        ang = 0.01 * i
        rows.append((i, [math.cos(ang), math.sin(ang), 0.0], 0))
    for i in range(48, 54):  # small cells
        rows.append((i, [0.0, float(i % 3 == 0), 1.0], 1 + i % 2))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


@pytest.mark.parametrize("kernel", ["hof", "gram"])
def test_near_dup_salted_guard_exact(skewed_vectors, kernel):
    """The (cell, i, j) grid — join for hof, side-tagged replication for
    gram — must return exactly the unguarded pairs: every unordered pair
    kept once, none lost, none duplicated."""
    plain = similarity.near_dup_pairs(skewed_vectors, threshold=0.35, kernel="hof")
    salted = similarity.near_dup_pairs(
        skewed_vectors, threshold=0.35, max_cell_rows=10, kernel=kernel
    )
    p = sorted((r["a_id"], r["b_id"], r["cosine_sim"]) for r in plain.collect())
    s_rows = [(r["a_id"], r["b_id"], r["cosine_sim"]) for r in salted.collect()]
    assert len(s_rows) == len(set(s_rows))  # no pair lands in two tasks
    assert sorted(s_rows) == p
    assert len(p) > 100  # the mega-cell genuinely produced a big pair space


def test_near_dup_gram_matches_hof(skewed_vectors):
    """Kernel equivalence on the uncapped path: the BLAS gram kernel and
    the JVM hof kernel must produce the identical pair set and identical
    rounded similarities (same stable_round formula on both sides)."""
    hof = similarity.near_dup_pairs(skewed_vectors, threshold=0.35, kernel="hof")
    gram = similarity.near_dup_pairs(skewed_vectors, threshold=0.35, kernel="gram")
    h = sorted((r["a_id"], r["b_id"], r["cosine_sim"]) for r in hof.collect())
    g = sorted((r["a_id"], r["b_id"], r["cosine_sim"]) for r in gram.collect())
    assert g == h


def test_kmeans_recovers_separated_clusters(spark):
    """Lloyd's over three well-separated blobs: every blob lands in one
    cell, assignments are partitioning-invariant, and k > #blobs leaves
    the surplus centroid empty without crashing (kept via the guard)."""
    import random

    rng = random.Random(3)
    corners = [(10.0, 0.0, 0.0), (0.0, 10.0, 0.0), (0.0, 0.0, 10.0)]
    rows = [
        (100 * c + i, [x + rng.uniform(-0.5, 0.5) for x in corner])
        for c, corner in enumerate(corners)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    cents = similarity.kmeans_fit(df, k=3, iters=3)
    assign = {
        r["vec_id"]: r["cell"]
        for r in similarity.kmeans_assign(df, cents).collect()
    }
    blobs = [{assign[100 * c + i] for i in range(40)} for c in range(3)]
    assert all(len(b) == 1 for b in blobs)  # each blob pure
    assert len(set().union(*blobs)) == 3  # and in distinct cells

    cents2 = similarity.kmeans_fit(df.repartition(7), k=3, iters=3)
    assign2 = {
        r["vec_id"]: r["cell"]
        for r in similarity.kmeans_assign(df.repartition(5), cents2).collect()
    }
    assert assign2 == assign  # deterministic init -> same cells

    cents4 = similarity.kmeans_fit(df, k=4, iters=2)
    assert cents4.count() == 4  # empty cluster kept, not dropped


def test_near_dup_kernels_randomized(spark):
    """Seeded randomized equivalence sweep: 300 vectors across 6 cells
    with negative components, zero components, exact duplicates, and a
    low threshold so negative and near-boundary similarities flow
    through both kernels — outputs must match exactly, capped and
    uncapped."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(300):
        vec = [round(rng.uniform(-1, 1), 3) for _ in range(8)]
        if i % 17 == 0:
            vec[rng.randrange(8)] = 0.0
        rows.append((i, vec, i % 6))
        if i % 29 == 0:  # exact duplicate under a new id
            rows.append((1000 + i, list(vec), i % 6))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    for cap in (None, 20):
        hof = similarity.near_dup_pairs(
            df, threshold=0.05, kernel="hof", max_cell_rows=cap
        )
        gram = similarity.near_dup_pairs(
            df, threshold=0.05, kernel="gram", max_cell_rows=cap
        )
        h = sorted((r["a_id"], r["b_id"], r["cosine_sim"]) for r in hof.collect())
        g = sorted((r["a_id"], r["b_id"], r["cosine_sim"]) for r in gram.collect())
        assert g == h and len(h) > 50, (cap, len(h))


def test_near_dup_salt_groups_in_join_key(skewed_vectors):
    """hof kernel: the salt columns must be IN the shuffle key of the
    self-join, not post-join filters — otherwise the mega-cell still
    lands in one task."""
    from insect_observation_data_pipeline_spark.plans.inspect import join_key_names

    salted = similarity.near_dup_pairs(
        skewed_vectors, threshold=0.35, max_cell_rows=10, kernel="hof"
    )
    keys = join_key_names(salted)
    assert any(
        {"cell", "i", "j"} <= set(side) for side in keys
    ), f"salt groups missing from join keys: {keys}"


def test_near_dup_gram_salt_in_grouping_key(skewed_vectors):
    """gram kernel: the salted path must group (shuffle) on (cell, i, j),
    so the salt bounds the per-task Arrow batch, not a post-shuffle
    filter."""
    from insect_observation_data_pipeline_spark.plans.inspect import (
        pandas_group_keys,
    )

    salted = similarity.near_dup_pairs(
        skewed_vectors, threshold=0.35, max_cell_rows=10, kernel="gram"
    )
    keys = pandas_group_keys(salted)
    assert keys and {"cell", "i", "j"} <= set(keys[0]), keys


def test_lsh_multiprobe_recall(spark):
    """Multi-probe quantifies the x13 ANN: recall@3 vs exact brute force
    must reach 0.9 on the driver testdata, and each added probe radius
    must not lose recall (monotone candidate-set growth)."""
    from insect_observation_data_pipeline_spark.sources.parquet import read_table

    e = read_table(spark, "/root/testdata/sf0.01", "embeddings")
    q, c = e.filter(F.col("vec_id") < 5), e.filter(F.col("vec_id") >= 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(q, c, k=3).collect()
    }
    recalls = []
    for pb in (0, 3):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.lsh_topk(
                q, c, k=3, planes=4, dims=64, probe_bits=pb
            ).collect()
        }
        recalls.append(len(got & exact) / len(exact))
    assert recalls[1] >= 0.9, f"multi-probe recall@3 = {recalls[1]}"
    assert recalls[1] >= recalls[0]


def test_probe_buckets_distinct(spark):
    """Probe set = all buckets within Hamming distance r, no duplicates
    (a candidate can match at most one probe)."""
    df = spark.createDataFrame([("1010",)], "bucket string")
    row = df.select(
        similarity.probe_buckets(F.col("bucket"), 4, 2).alias("p")
    ).collect()[0]
    probes = row["p"]
    assert len(probes) == 1 + 4 + 6
    assert len(set(probes)) == len(probes)
    assert probes[0] == "1010"
    assert {p for p in probes if sum(a != b for a, b in zip(p, "1010")) == 1} == {
        "0010", "1110", "1000", "1011"
    }


def test_connected_components_known_graph(spark):
    """Min-label propagation reaches the transitive-closure fixpoint:
    a 4-node chain collapses to one component even though no single
    edge links its ends; singleton-pair and isolated clusters keep
    their own min ids."""
    from insect_observation_data_pipeline_spark.llm.dedup import connected_components

    edges = spark.createDataFrame(
        # chain 1-2-3-4 (diameter 3: needs >1 propagation round), pair 10-11
        [(1, 2), (2, 3), (3, 4), (10, 11)],
        "doc_a long, doc_b long",
    )
    got = {
        r["doc_id"]: r["component_id"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_pack_sequences_semantics(spark):
    """Packs cut at budget multiples of the running total: a doc joins
    the pack where its start offset lands; strata pack independently."""
    from insect_observation_data_pipeline_spark.llm.curation import pack_sequences

    df = spark.createDataFrame(
        [(1, "en", 60), (2, "en", 50), (3, "en", 10), (4, "de", 200)],
        "doc_id long, lang string, n_tokens int",
    )
    got = {
        r["doc_id"]: (r["pack_offset"], r["pack_id"])
        for r in pack_sequences(
            df, token_col="n_tokens", budget=100, strata_col="lang"
        ).collect()
    }
    # en: offsets 0, 60, 110 -> packs 0, 0, 1; de packs from offset 0
    assert got == {1: (0, 0), 2: (60, 0), 3: (110, 1), 4: (0, 0)}


def test_incremental_dedup_indexed_matches_plain(spark):
    """The pre-built-index path must reproduce the plain path exactly on
    the x29 split of the real testdata — including exact-vs-near reason
    priority and shingle-less short docs (index rows with null n_sh)."""
    from insect_observation_data_pipeline_spark.sources.parquet import read_table

    d = read_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    batch = d.filter(F.col("doc_id") % 10 == 0)
    plain = {
        r["doc_id"]: (r["keep"], r["reason"])
        for r in dedup.incremental_dedup(corpus, batch, threshold=0.2).collect()
    }
    index = dedup.build_dedup_index(corpus)
    indexed = {
        r["doc_id"]: (r["keep"], r["reason"])
        for r in dedup.incremental_dedup_indexed(
            index, corpus, batch, threshold=0.2
        ).collect()
    }
    assert indexed == plain and len(plain) > 0


def test_incremental_indexed_pushdown_equivalent_to_semi_join(spark):
    """candidate_pushdown is a pure IO optimization: on the real
    testdata split AND on seeded random corpora with dup families, the
    pushed-In-filter path, the over-threshold fallback (pushdown=1
    forces the semi join whenever >1 candidate), and the default semi
    join must produce identical (doc_id, keep, reason) verdicts."""
    import random

    from insect_observation_data_pipeline_spark.sources.parquet import read_table

    def verdicts(index, corpus, batch, bands, pd):
        return {
            r["doc_id"]: (r["keep"], r["reason"])
            for r in dedup.incremental_dedup_indexed(
                index, corpus, batch, threshold=0.2,
                band_index=bands, candidate_pushdown=pd,
            ).collect()
        }

    def check(corpus, batch):
        index = dedup.build_dedup_index(corpus).localCheckpoint(eager=True)
        bands = dedup.build_band_index(index)
        base = verdicts(index, corpus, batch, bands, 0)
        assert len(base) > 0
        for pd in (1, 100_000):
            assert verdicts(index, corpus, batch, bands, pd) == base, pd

    d = read_table(spark, "/root/testdata/sf0.001", "documents")
    check(
        d.filter(F.col("doc_id") % 10 != 0), d.filter(F.col("doc_id") % 10 == 0)
    )

    rng = random.Random(13)
    words = [f"w{i}" for i in range(40)]
    for trial in range(3):
        def doc() -> str:
            return " ".join(rng.choice(words) for _ in range(rng.randint(0, 25)))

        corpus_rows = [(i, doc()) for i in range(1, 30)]
        batch_rows = []
        for j in range(30, 45):
            r = rng.random()
            if r < 0.3 and corpus_rows:
                batch_rows.append((j, rng.choice(corpus_rows)[1]))  # exact
            elif r < 0.6 and corpus_rows:
                batch_rows.append(
                    (j, rng.choice(corpus_rows)[1] + " tail")  # near-ish
                )
            else:
                batch_rows.append((j, doc()))
        check(
            spark.createDataFrame(corpus_rows, "doc_id long, text string"),
            spark.createDataFrame(batch_rows, "doc_id long, text string"),
        )


def test_containment_directed_semantics(docs_small_containment):
    """A short doc quoted whole inside a long one: containment(A in B)
    is 1.0 while the reverse direction scores low — the inclusion case
    symmetric Jaccard misses entirely."""
    out = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in dedup.containment_pairs(
            docs_small_containment, threshold=0.05
        ).collect()
    }
    assert out[(1, 2)] == 1.0  # every shingle of 1 inside 2
    assert out[(2, 1)] < 0.5  # long doc barely contained in short one
    jac = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(
            docs_small_containment, threshold=0.0
        ).collect()
    }
    assert jac[(1, 2)] < 0.5  # symmetric score buries the inclusion


@pytest.fixture(scope="module")
def docs_small_containment(spark):
    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"word{i} filler{i} token{i}" for i in range(12))
    return spark.createDataFrame(
        [(1, short), (2, short + " " + filler)],
        "doc_id long, text string",
    )


def test_incremental_dedup_reasons(spark):
    """Batch-vs-corpus dedup: exact fingerprint hit wins over near-dup,
    shingle-overlap near-dups are caught cross-side, novel docs kept."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different corpus text about spark engines")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "The  quick brown fox jumps over the lazy dog again and again"),
            (11, base + " with a tiny tail"),
            (12, "nothing like anything in the corpus at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["keep"], r["reason"])
        for r in dedup.incremental_dedup(corpus, batch, threshold=0.2).collect()
    }
    assert out[10] == (False, "exact")  # case/whitespace-normalized fingerprint
    assert out[11] == (False, "near_dup")
    assert out[12] == (True, "kept")


def test_quantize_int8_known_values(spark):
    """Hand-computed quantization: scale = max|x|, codes HALF_UP, zero
    vector guarded to scale 1.0 with all-zero codes."""
    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in similarity.quantize_int8(df).collect()}
    r1 = out[1]
    # q = [64, -127, 32]: 63.5 and 31.75 round half-up, -1.0 -> -127
    assert (r1["scale_q"], r1["n_dims"], r1["q_l1"]) == (1.0, 3, 223)
    assert r1["q_checksum"] == 64 * 1 - 127 * 2 + 32 * 3
    r2 = out[2]
    assert (r2["scale_q"], r2["q_l1"], r2["q_checksum"]) == (1.0, 0, 0)


def test_write_training_shards(spark, tmp_path):
    """Shard assignment is content-addressed (identical across reruns and
    partitionings), balanced by hash uniformity, laid out one file per
    shard directory, and lossless on read-back."""
    from insect_observation_data_pipeline_spark.llm.curation import (
        shard_assign,
        write_training_shards,
    )

    df = spark.range(5000).select(
        F.col("id").alias("doc_id"), F.md5(F.col("id").cast("string")).alias("text")
    )
    a = {r["doc_id"]: r["shard"] for r in shard_assign(df, key_col="doc_id", n_shards=8).collect()}
    b = {
        r["doc_id"]: r["shard"]
        for r in shard_assign(df.repartition(13), key_col="doc_id", n_shards=8).collect()
    }
    assert a == b  # partitioning-independent assignment
    sizes = sorted(list(a.values()).count(s) for s in range(8))
    assert sizes[0] > 0 and sizes[-1] / sizes[0] < 1.3  # hash-balanced

    out = str(tmp_path / "shards")
    write_training_shards(df, out, key_col="doc_id", n_shards=8, sort_by=("doc_id",))
    import glob

    dirs = sorted(glob.glob(out + "/shard=*"))
    assert len(dirs) == 8
    for d in dirs:
        assert len(glob.glob(d + "/*.parquet")) == 1  # whole shard, one file
    back = spark.read.parquet(out)
    assert back.count() == 5000
    assert {r["doc_id"] for r in back.select("doc_id").collect()} == set(a)


def test_pack_then_shard_composition(spark, tmp_path):
    """The training-prep tail composes: pack docs to 2048-token budgets,
    shard on the (stratum, pack) key — every pack lands whole in exactly
    one shard file, and the round trip loses nothing."""
    import glob

    from insect_observation_data_pipeline_spark.llm.curation import (
        pack_sequences,
        write_training_shards,
    )

    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("l"), (F.col("id") % 3).cast("string")).alias("lang"),
        (F.pmod(F.col("id") * 37, F.lit(400)) + 1).cast("int").alias("n_tokens"),
    )
    packed = pack_sequences(docs, token_col="n_tokens", budget=2048, strata_col="lang")
    keyed = packed.withColumn(
        "pack_key", F.concat_ws("|", "lang", F.col("pack_id").cast("string"))
    )
    out = str(tmp_path / "packshards")
    write_training_shards(keyed, out, key_col="pack_key", n_shards=4, sort_by=("doc_id",))

    back = spark.read.parquet(out)
    assert back.count() == 2000
    # every pack wholly inside one shard
    split_packs = (
        back.groupBy("pack_key")
        .agg(F.countDistinct("shard").alias("n_shards"))
        .filter(F.col("n_shards") > 1)
        .count()
    )
    assert split_packs == 0
    assert len(glob.glob(out + "/shard=*")) == 4


def test_pack_sequences_invariants_at_volume(spark):
    """Packing invariants on 5k hash-random docs: per stratum, offsets
    are the exact running total in order, every doc's start offset lies
    inside its pack's [pack_id*budget, (pack_id+1)*budget) span, and
    pack ids are dense non-decreasing."""
    from insect_observation_data_pipeline_spark.llm.curation import pack_sequences

    budget = 1000
    df = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en")
        .when(F.col("id") % 3 == 1, "de")
        .otherwise("fr")
        .alias("lang"),
        (F.pmod(F.xxhash64("id"), F.lit(300)) + 1).cast("int").alias("n_tokens"),
    )
    rows = pack_sequences(
        df, token_col="n_tokens", budget=budget, strata_col="lang"
    ).collect()
    # distributed prefix-sum path must agree with the naive window
    # exactly (same integer additions in the same order per stratum)
    bucketed = pack_sequences(
        df,
        token_col="n_tokens",
        budget=budget,
        strata_col="lang",
        range_bucket_width=137,
    ).collect()
    assert sorted(map(tuple, bucketed)) == sorted(map(tuple, rows))
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    assert len(rows) == 5000 and len(by_lang) == 3
    for docs in by_lang.values():
        docs.sort(key=lambda r: r["doc_id"])
        running = 0
        prev_pack = 0
        for r in docs:
            assert r["pack_offset"] == running
            assert r["pack_id"] == running // budget
            assert r["pack_id"] >= prev_pack
            prev_pack = r["pack_id"]
            running += r["n_tokens"]


def test_redact_text_and_count(spark):
    from insect_observation_data_pipeline_spark.llm.curation import (
        redact_text,
        redaction_count,
    )

    df = spark.createDataFrame(
        [
            (1, "mail me at a.b@example.com or visit https://x.io/a?q=1 ref 123456"),
            (2, "no pii here, just 123"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["s"], r["n"])
        for r in df.select(
            "doc_id",
            redact_text(F.col("text")).alias("s"),
            redaction_count(F.col("text")).alias("n"),
        ).collect()
    }
    assert got[1] == ("mail me at <EMAIL> or visit <URL> ref <NUM>", 3)
    assert got[2] == ("no pii here, just 123", 0)  # short digit run kept


def test_curation_null_and_empty_edges(spark):
    """NULL text propagates (never fabricates redactions); empty frames
    flow through pack/sample without error."""
    from insect_observation_data_pipeline_spark.llm.curation import (
        pack_sequences,
        redact_text,
        redaction_count,
        stratified_hash_sample,
    )

    df = spark.createDataFrame([(1, None)], "doc_id long, text string")
    row = df.select(
        redact_text(F.col("text")).alias("s"),
        redaction_count(F.col("text")).alias("n"),
    ).collect()[0]
    assert row["s"] is None and row["n"] is None

    empty = spark.createDataFrame([], "doc_id long, lang string, n_tokens int")
    assert (
        pack_sequences(
            empty, token_col="n_tokens", budget=10, strata_col="lang"
        ).count()
        == 0
    )
    assert (
        pack_sequences(
            empty,
            token_col="n_tokens",
            budget=10,
            strata_col="lang",
            range_bucket_width=5,
        ).count()
        == 0
    )
    assert (
        stratified_hash_sample(
            empty, strata_col="lang", key_col="doc_id", rates={"en": 10}
        ).count()
        == 0
    )


def test_stratified_sample_deterministic(spark):
    """Same rows on every run (hash-based, no rand()); rate applies per
    stratum."""
    from insect_observation_data_pipeline_spark.llm.curation import (
        stratified_hash_sample,
    )

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    kept1 = {
        r["doc_id"]
        for r in stratified_hash_sample(
            df, strata_col="lang", key_col="doc_id", rates={"en": 20}
        ).collect()
    }
    kept2 = {
        r["doc_id"]
        for r in stratified_hash_sample(
            df, strata_col="lang", key_col="doc_id", rates={"en": 20}
        ).collect()
    }
    assert kept1 == kept2
    n_en = sum(1 for k in kept1 if k % 2 == 0)
    n_de = sum(1 for k in kept1 if k % 2 == 1)
    assert n_de == 500  # default rate keeps everything
    assert 50 < n_en < 150  # ~20% of 500, hash-uniform


def test_multimodal_plumbing(spark):
    df = spark.createDataFrame(
        [("a", "image", bytearray(b"\x89PNG fake")), ("b", "image", bytearray(b""))],
        "media_id string, media_type string, payload binary",
    )
    meta = {r["media_id"]: r for r in multimodal.binary_metadata(df).collect()}
    assert meta["a"]["n_bytes"] == 9 and meta["b"]["n_bytes"] == 0
    feats = {r["media_id"]: r for r in multimodal.extract_features(df, "fake").collect()}
    assert feats["a"]["n_bytes"] == 9 and feats["a"]["feature_kind"] == "fake"
    # real decoder rejects malformed bytes cleanly (truncated signature)
    with pytest.raises(Exception):
        multimodal.extract_features(df, "image").collect()


def _png_bytes(w: int, h: int) -> bytes:
    """A real, valid PNG built with only struct+zlib (RGB, 8-bit)."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + b"\x10\x20\x30" * w for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_png_decoder_end_to_end(spark):
    """The non-fake DECODERS['image'] path executes end-to-end through
    mapInPandas on real PNG bytes: dimensions come out of IHDR."""
    png_a, png_b = _png_bytes(7, 3), _png_bytes(1, 1)
    df = spark.createDataFrame(
        [("a", "image", bytearray(png_a)), ("b", "image", bytearray(png_b))],
        "media_id string, media_type string, payload binary",
    )
    feats = {
        r["media_id"]: r for r in multimodal.extract_features(df, "image").collect()
    }
    assert feats["a"]["feature_kind"] == "png"
    assert (feats["a"]["width"], feats["a"]["height"]) == (7, 3)
    assert (feats["b"]["width"], feats["b"]["height"]) == (1, 1)
    assert feats["a"]["n_bytes"] == len(png_a)

    # corrupting the IHDR CRC must be detected (it's a real parse, not
    # a length sniff)
    bad = bytearray(png_a)
    bad[30] ^= 0xFF
    with pytest.raises(Exception):
        multimodal.extract_features(
            spark.createDataFrame(
                [("c", "image", bad)],
                "media_id string, media_type string, payload binary",
            ),
            "image",
        ).collect()


def test_wav_decoder_end_to_end(spark):
    """The non-fake DECODERS['audio'] path executes end-to-end through
    mapInPandas on real WAV bytes built with the stdlib wave module:
    rate/channels/frames come out of the fmt and data chunks."""
    import io
    import wave

    def wav_bytes(rate, channels, frames):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(channels)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(b"\x00\x00" * channels * frames)
        return buf.getvalue()

    wa, wb = wav_bytes(16000, 1, 100), wav_bytes(44100, 2, 7)
    df = spark.createDataFrame(
        [("a", "audio", bytearray(wa)), ("b", "audio", bytearray(wb))],
        "media_id string, media_type string, payload binary",
    )
    feats = {
        r["media_id"]: r for r in multimodal.extract_features(df, "audio").collect()
    }
    assert feats["a"]["feature_kind"] == "wav"
    assert (feats["a"]["sample_rate"], feats["a"]["n_channels"]) == (16000, 1)
    assert feats["a"]["n_frames"] == 100
    assert (feats["b"]["sample_rate"], feats["b"]["n_channels"]) == (44100, 2)
    assert feats["b"]["n_frames"] == 7
    assert feats["a"]["width"] is None  # image fields stay null for audio
    # all-zero PCM payload: content features are exact zeros
    assert (feats["a"]["peak_amp"], feats["a"]["rms_amp"]) == (0, 0)

    with pytest.raises(Exception):
        multimodal.extract_features(
            spark.createDataFrame(
                [("c", "audio", bytearray(b"RIFFxxxxNOPE"))],
                "media_id string, media_type string, payload binary",
            ),
            "audio",
        ).collect()


def test_wav_pcm_content_decode_known_waveform(spark):
    """WAV decode reaches the SAMPLES, not just the header: a
    synthesized known waveform round-trips through wav_encode_pcm16 ->
    wav_decode_samples bit-exactly, and the feature decoder's
    amplitude stats match hand-computed values — through mapInPandas
    too, so the content path is exercised executor-side.

    Square wave at +/-1000 over 2 channels: peak = 1000, mean square =
    1000^2 exactly, so rms = 1000 with zero rounding slack."""
    import numpy as np

    frames = np.tile(np.array([[1000, -1000]], dtype=np.int16), (50, 1))
    wav = multimodal.wav_encode_pcm16(frames, 8000)

    decoded = multimodal.wav_decode_samples(wav)
    assert decoded.shape == (50, 2)
    assert (decoded == frames.astype(np.int32)).all()

    feats = multimodal._decode_audio_wav(wav)
    assert feats["sample_rate"] == 8000
    assert feats["n_channels"] == 2
    assert feats["n_frames"] == 50
    assert feats["peak_amp"] == 1000
    assert feats["rms_amp"] == 1000

    # ramp: peak = 99; rms = isqrt(sum(i^2 for i<100)/100) = isqrt(3283) = 57
    ramp = np.arange(100, dtype=np.int16)[:, None]
    rwav = multimodal.wav_encode_pcm16(ramp, 16000)
    df = spark.createDataFrame(
        [("sq", "audio", bytearray(wav)), ("ramp", "audio", bytearray(rwav))],
        "media_id string, media_type string, payload binary",
    )
    out = {
        r["media_id"]: r for r in multimodal.extract_features(df, "audio").collect()
    }
    assert (out["sq"]["peak_amp"], out["sq"]["rms_amp"]) == (1000, 1000)
    assert (out["ramp"]["peak_amp"], out["ramp"]["rms_amp"]) == (99, 57)

    # 8-bit PCM: unsigned bytes are centered at 128
    import struct

    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    fmt8 = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    body = b"WAVE" + chunk(b"fmt ", fmt8) + chunk(b"data", bytes([128, 228, 28, 128]))
    wav8 = b"RIFF" + struct.pack("<I", len(body)) + body
    dec8 = multimodal.wav_decode_samples(wav8)
    assert dec8.flatten().tolist() == [0, 100, -100, 0]
    f8 = multimodal._decode_audio_wav(wav8)
    assert (f8["peak_amp"], f8["rms_amp"]) == (100, 70)  # isqrt(20000/4)=70

    # structurally-valid WAV in a remaining unsupported encoding
    # (ADPCM, tag 2): header features only, null amplitudes
    fmta = struct.pack("<HHIIHH", 2, 1, 8000, 4000, 1, 4)
    bodya = b"WAVE" + chunk(b"fmt ", fmta) + chunk(b"data", b"\x00" * 8)
    wava = b"RIFF" + struct.pack("<I", len(bodya)) + bodya
    fa = multimodal._decode_audio_wav(wava)
    assert fa["n_frames"] == 8 and "peak_amp" not in fa


def test_wav_24bit_and_float32_decode_roundtrip(spark):
    """Round-6 stretch goal: the two encodings that previously fell
    back to header-only features now decode to samples.

    24-bit integer PCM: values beyond the 16-bit range (incl. the most
    negative 24-bit sample) round-trip bit-exactly through
    wav_encode_pcm24 -> wav_decode_samples — sign extension is the
    part a naive 3-byte read gets wrong. Float32 (format tag 3):
    samples land on the 16-bit grid via round-half-even of x*32767
    with clipping, so amplitude features stay exact integers; 'same
    waveform, different container' yields byte-identical features to
    its int16 twin through the executor-side mapInPandas path too."""
    import numpy as np

    frames24 = np.array(
        [[1_000_000], [-1_000_000], [8_388_607], [-8_388_608], [0]],
        dtype=np.int32,
    )
    wav24 = multimodal.wav_encode_pcm24(frames24, 48000)
    dec24 = multimodal.wav_decode_samples(wav24)
    assert dec24.shape == (5, 1)
    assert (dec24 == frames24).all()
    f24 = multimodal._decode_audio_wav(wav24)
    assert f24["n_frames"] == 5
    assert f24["peak_amp"] == 8_388_608

    # float square wave at ±1000/32767 == int16 square wave at ±1000
    sq = np.tile(np.array([[1000, -1000]], dtype=np.int16), (50, 1))
    wav_i = multimodal.wav_encode_pcm16(sq, 8000)
    wav_f = multimodal.wav_encode_float32(sq.astype(np.float64) / 32767.0, 8000)
    assert (
        multimodal.wav_decode_samples(wav_f)
        == multimodal.wav_decode_samples(wav_i)
    ).all()
    # clipping: out-of-range float samples pin to the int16 rails
    hot = multimodal.wav_decode_samples(
        multimodal.wav_encode_float32(np.array([[2.0], [-2.0]]), 8000)
    )
    assert hot.flatten().tolist() == [32767, -32768]

    df = spark.createDataFrame(
        [("i16", "audio", bytearray(wav_i)), ("f32", "audio", bytearray(wav_f))],
        "media_id string, media_type string, payload binary",
    )
    out = {
        r["media_id"]: r
        for r in multimodal.extract_features(df, "audio").collect()
    }
    assert (out["f32"]["peak_amp"], out["f32"]["rms_amp"]) == (
        out["i16"]["peak_amp"],
        out["i16"]["rms_amp"],
    ) == (1000, 1000)


def test_resize_plumbing(spark):
    """1-in-1-out Arrow-batched resize: output payload is exactly
    width*height bytes, deterministic across runs."""
    df = spark.createDataFrame(
        [("a", "image", bytearray(b"0123456789")), ("b", "image", bytearray(b""))],
        "media_id string, media_type string, payload binary",
    )
    out = {r["media_id"]: r for r in multimodal.resize_images(df, width=4, height=3).collect()}
    assert len(out) == 2
    assert out["a"]["width"] == 4 and out["a"]["height"] == 3
    assert len(out["a"]["payload"]) == 12
    assert bytes(out["a"]["payload"]) == b"012345678901"
    assert len(out["b"]["payload"]) == 0  # empty payload stays empty


def test_frame_sample_plumbing(spark):
    """Row-expanding frame sampler: every_nth stride, max_frames cap,
    stable frame indices."""
    df = spark.createDataFrame(
        [("v1", bytearray(b"videobytes" * 10), 100), ("v2", bytearray(b"x"), 3)],
        "media_id string, payload binary, n_frames int",
    )
    rows = multimodal.sample_frames(df, every_nth=10, max_frames=8).collect()
    by_media = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert sorted(by_media["v1"]) == [0, 10, 20, 30, 40, 50, 60, 70]  # capped at 8
    assert sorted(by_media["v2"]) == [0]  # stride 10 over 3 frames


def test_token_repetition(spark):
    from insect_observation_data_pipeline_spark.llm import curation

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y z"), (3, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in curation.token_repetition(df).collect()}
    assert out[1]["n_tokens"] == 4
    assert out[1]["n_distinct"] == 2
    assert out[1]["top_token_n"] == 3
    assert out[1]["distinct_frac"] == 0.5
    assert out[1]["top_frac"] == 0.75
    assert out[2]["distinct_frac"] == 1.0 and out[2]["top_frac"] == 0.3333
    assert 3 not in out  # zero tokens -> no row


def test_temperature_mix_rates(spark):
    from insect_observation_data_pipeline_spark.llm import curation

    rows = [(i, "en") for i in range(100)] + [(1000, "kl"), (1001, "kl"),
                                              (1002, "kl"), (1003, "kl")]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = curation.temperature_mix(df, strata_col="lang", key_col="doc_id")
    rates = {r["lang"]: r["rate_pct"] for r in out.select("lang", "rate_pct").distinct().collect()}
    assert rates["en"] == 100           # head stratum keeps everything
    assert rates["kl"] == 20            # round(100*sqrt(4/100)) = 20
    kept = out.groupBy("lang").count().collect()
    assert {r["lang"]: r["count"] for r in kept}["en"] == 100
    # rerun selects the identical rows (deterministic md5 bucket)
    ids1 = {r["doc_id"] for r in out.collect()}
    ids2 = {r["doc_id"] for r in curation.temperature_mix(
        df, strata_col="lang", key_col="doc_id").collect()}
    assert ids1 == ids2


def test_cluster_representatives(spark):
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3)], "doc_id long, component_id long"
    )
    scored = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.1)], "doc_id long, quality_score double"
    )
    out = {r["component_id"]: r for r in dedup.cluster_representatives(comps, scored).collect()}
    assert out[1]["keep_doc_id"] == 2 and out[1]["n_members"] == 2
    assert out[1]["best_score"] == 0.9
    assert out[3]["keep_doc_id"] == 3 and out[3]["n_members"] == 1


def test_cluster_representatives_tie_breaks_min_id(spark):
    comps = spark.createDataFrame([(5, 5), (9, 5)], "doc_id long, component_id long")
    scored = spark.createDataFrame([(5, 0.7), (9, 0.7)], "doc_id long, quality_score double")
    out = dedup.cluster_representatives(comps, scored).collect()
    assert len(out) == 1 and out[0]["keep_doc_id"] == 5


def test_centroid_distances(spark):
    df = spark.createDataFrame(
        [
            (1, 0, [1.0, 0.0]),
            (2, 0, [1.0, 0.0]),
            (3, 1, [0.0, 2.0]),
        ],
        "vec_id long, label int, embedding array<float>",
    )
    out = {r["vec_id"]: r["centroid_sim"] for r in similarity.centroid_distances(df).collect()}
    # members identical to their centroid direction -> cosine 1.0
    assert out[1] == 1.0 and out[2] == 1.0 and out[3] == 1.0


def test_ivf_nprobe_recall_monotone(spark):
    """IVF recall@3 vs brute force rises monotonically with nprobe, and
    probing every cell (nprobe = n_cells) IS the exact scan. (On this
    synthetic testdata the label cells carry no real cluster structure
    — intra-label mean cosine ~= inter-label — so absolute recall at
    low nprobe is a property of the fixture, not the operator; the
    monotone climb to exact is the operator property under test.)"""
    from insect_observation_data_pipeline_spark.sources.parquet import read_table

    e = read_table(spark, "/root/testdata/sf0.01", "embeddings")
    q, c = e.filter(F.col("vec_id") < 5), e.filter(F.col("vec_id") >= 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(q, c, k=3).collect()
    }
    n_cells = c.select("label").distinct().count()
    recalls = []
    for np_ in (1, 4, n_cells):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.ivf_topk(q, c, k=3, nprobe=np_).collect()
        }
        recalls.append(len(got & exact) / len(exact))
    assert recalls == sorted(recalls), f"recall not monotone: {recalls}"
    assert recalls[-1] == 1.0, f"nprobe=n_cells must equal exact: {recalls}"
    assert recalls[1] >= 0.5, f"nprobe=4 recall too low: {recalls}"


def test_token_prob_score_known(spark):
    """Tiny corpus with hand-computable unigram mass: doc 1 = 'a a b'
    (corpus: a:3, b:2, z:1, total 6) -> mean p = (3+3+2)/(3*6)."""
    from insect_observation_data_pipeline_spark.llm import curation

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a b z")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in curation.token_prob_score(df).collect()}
    assert out[1]["n_tokens"] == 3
    assert out[1]["mean_tok_ppm"] == round(1e6 * 8 / 18, 4)
    assert out[2]["mean_tok_ppm"] == round(1e6 * 6 / 18, 4)


def test_jaccard_max_df_stop_shingle_cut(docs):
    """max_df above every shingle's document frequency changes nothing;
    max_df=1 removes the shared-shingle overlap so no pair survives —
    and scores can only go DOWN (lower bound), never up."""
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(docs, threshold=0.2).collect()
    }
    loose = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(docs, threshold=0.2, max_df=100).collect()
    }
    assert loose == exact
    cut = dedup.jaccard_pairs(docs, threshold=0.01, max_df=1).collect()
    scores = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in cut}
    assert all(
        scores[p] <= exact.get(p, 1.0) for p in scores
    )  # lower bound only
    assert (1, 2) not in scores  # identical docs share every shingle (df=2)


def test_x30_stable_under_repartitioning(spark):
    """x30's pinned-VALUES oracle rests on the claim that the whole
    trained-IVF query output is partitioning-invariant (round_centroids
    snaps the Lloyd's centroids at 1e-6 before assignment). Assert it
    end-to-end: the exact x30 pipeline over the driver sf0.01 embeddings,
    run with the input physically repartitioned to 3 and to 7 partitions,
    must produce identical collected rows."""
    from insect_observation_data_pipeline_spark.sources.parquet import read_table

    e = read_table(spark, "/root/testdata/sf0.01", "embeddings")

    def run(n_parts: int) -> list[tuple]:
        src = e.repartition(n_parts)
        q = src.filter(F.col("vec_id") < 5)
        c = src.filter(F.col("vec_id") >= 5)
        cents = similarity.round_centroids(similarity.kmeans_fit(c, k=8, iters=2))
        trained = c.join(similarity.kmeans_assign(c, cents), "vec_id")
        out = similarity.ivf_topk(
            q,
            trained.withColumnRenamed("cell", "kcell"),
            cell_col="kcell",
            k=3,
            nprobe=2,
        )
        return sorted(tuple(r) for r in out.collect())

    a, b = run(3), run(7)
    assert a == b
    assert len(a) == 15  # 5 queries x top-3, the pinned oracle's shape


def test_containment_keep_policy(spark):
    """Subset chain A < B < C keeps only C; mutual containment collapses
    to the min id; unrelated docs keep; sub-shingle docs keep."""
    inner = "alpha beta gamma delta epsilon zeta"
    mid = inner + " eta theta iota kappa"
    outer = mid + " lam mu nu xi omicron pi rho sigma tau"
    rows = [
        (1, inner),            # contained in 2 and 3 -> drop
        (2, mid),              # contained in 3 -> drop
        (3, outer),            # superset -> keep
        (4, "totally unrelated words about completely other things here"),
        (5, outer),            # exact twin of 3: mutual containment,
        (6, "xy"),             # min id (3) wins, 5 drops; too-short doc keeps
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["keep"], r["reason"]) for r in dedup.containment_keep(df, threshold=0.6).collect()}
    assert out[1] == (False, "contained")
    assert out[2] == (False, "contained")
    assert out[3] == (True, "kept")
    assert out[4] == (True, "kept")
    assert out[5] == (False, "contained")
    assert out[6] == (True, "kept")


def test_png_pixel_roundtrip_all_color_types():
    """png_encode_pixels -> png_decode_pixels is the identity for all
    four 8-bit color types (gray, gray+alpha, RGB, RGBA) on seeded
    random pixels — pixel-level decode, not header sniffing."""
    import numpy as np

    rng = np.random.default_rng(11)
    for ch in (1, 2, 3, 4):
        px = rng.integers(0, 256, size=(5, 7, ch), dtype=np.uint8)
        got = multimodal.png_decode_pixels(multimodal.png_encode_pixels(px))
        assert got.shape == (5, 7, ch)
        assert (got == px).all(), f"channels={ch}"


def test_png_unfilter_all_filter_types():
    """Decode reconstructs pixels through every PNG scanline filter
    (0=None, 1=Sub, 2=Up, 3=Average, 4=Paeth): the test applies the
    FORWARD filters independently per the spec, the decoder must invert
    them."""
    import struct
    import zlib

    import numpy as np

    rng = np.random.default_rng(13)
    h, w, ch = 5, 6, 3
    px = rng.integers(0, 256, size=(h, w, ch), dtype=np.int32)
    flat = px.reshape(h, w * ch)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    lines = b""
    for y, f in enumerate([0, 1, 2, 3, 4]):
        cur = flat[y]
        prev = flat[y - 1] if y else np.zeros(w * ch, dtype=np.int32)
        out = np.zeros(w * ch, dtype=np.int32)
        for x in range(w * ch):
            a = int(cur[x - ch]) if x >= ch else 0
            b = int(prev[x])
            c = int(prev[x - ch]) if x >= ch else 0
            if f == 0:
                out[x] = cur[x]
            elif f == 1:
                out[x] = cur[x] - a
            elif f == 2:
                out[x] = cur[x] - b
            elif f == 3:
                out[x] = cur[x] - (a + b) // 2
            else:
                out[x] = cur[x] - paeth(a, b, c)
        lines += bytes([f]) + bytes((out & 0xFF).astype(np.uint8))

    def chunk(cid, body):
        return (
            struct.pack(">I", len(body)) + cid + body
            + struct.pack(">I", zlib.crc32(cid + body) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(lines))
        + chunk(b"IEND", b"")
    )
    got = multimodal.png_decode_pixels(png)
    assert (got.astype(np.int32) == px).all()


def test_resize_images_real_png(spark):
    """decoder='image' resize is a REAL pixel op end-to-end through
    mapInPandas: a 2x2 quadrant PNG upscaled 2x nearest-neighbor yields
    4x4 quadrant blocks, re-encoded as a valid PNG."""
    import numpy as np

    quad = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 255, 255]]],
        dtype=np.uint8,
    )
    df = spark.createDataFrame(
        [("q", "image", bytearray(multimodal.png_encode_pixels(quad)))],
        "media_id string, media_type string, payload binary",
    )
    out = multimodal.resize_images(df, width=4, height=4, decoder="image").collect()
    assert len(out) == 1 and out[0]["width"] == 4
    px = multimodal.png_decode_pixels(bytes(out[0]["payload"]))
    assert px.shape == (4, 4, 3)
    expect = quad[np.repeat(np.arange(2), 2)][:, np.repeat(np.arange(2), 2)]
    assert (px == expect).all()


def test_semdedup_keep_policy(spark):
    """Within-cell near-dup pairs drop the larger id; cross-cell twins
    both survive (blocking semantics); orthogonal vectors keep."""
    rows = [
        (1, "a", [1.0, 0.0, 0.0]),
        (2, "a", [1.0, 0.001, 0.0]),   # near-dup of 1, same cell -> drop
        (3, "a", [0.0, 1.0, 0.0]),     # orthogonal -> keep
        (4, "b", [1.0, 0.0, 0.0]),     # identical to 1 but other cell -> keep
        (5, "b", [1.0, 0.0, 0.001]),   # near-dup of 4, same cell -> drop
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>"
    )
    out = {
        r["vec_id"]: (r["keep"], r["reason"])
        for r in similarity.semdedup_keep(df, threshold=0.9).collect()
    }
    assert out[1] == (True, "kept")
    assert out[2] == (False, "near_embedding")
    assert out[3] == (True, "kept")
    assert out[4] == (True, "kept")
    assert out[5] == (False, "near_embedding")


def test_session_window_agrees_with_lag_sessionization(spark):
    """e5 (native session_window intervals) and e2 (lag/cumsum count)
    describe the SAME sessions: per-user session counts match, every
    session interval is self-consistent (start < end, end = last + gap
    implies end - start >= gap for any session), and total events match
    the events table."""
    from insect_observation_data_pipeline_spark.queries.llm_testdata import (
        e2_sessionization,
        e5_session_window_stats,
    )

    sf = "/root/testdata/sf0.001"
    e5 = e5_session_window_stats(spark, sf).collect()
    by_user: dict[int, int] = {}
    for r in e5:
        by_user[r["user_id"]] = by_user.get(r["user_id"], 0) + 1
        assert r["session_start"] < r["session_end"]
    e2 = {r["user_id"]: r["n_sessions"] for r in e2_sessionization(spark, sf).collect()}
    assert by_user == e2
    n_events_total = sum(r["n_events"] for r in e5)
    from insect_observation_data_pipeline_spark.sources.parquet import read_table

    assert n_events_total == read_table(spark, sf, "events").count()


def test_session_boundary_exact_gap_agreement(spark, tmp_path):
    """An event EXACTLY gap after its predecessor stays in the SAME
    session: Spark's session_window merges while new_start <=
    current_end (verified here empirically — this is the behavior the
    e5 DuckDB oracle and e2's lag boundary must both replicate; a '>='
    split in either would disagree on exact-boundary data while
    looking green on data without any)."""
    from insect_observation_data_pipeline_spark.queries.llm_testdata import (
        e2_sessionization,
        e5_session_window_stats,
    )

    rows = [
        (1, "2024-01-01 00:00:00", 7, "click", 1.0, "{}"),
        (2, "2024-01-01 00:10:00", 7, "click", 1.0, "{}"),  # exactly 10 min
        (3, "2024-01-01 00:15:00", 7, "click", 1.0, "{}"),  # 5 min later
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))
    sf = str(tmp_path / "boundary")
    df.write.parquet(f"{sf}/events.parquet")

    e2 = e2_sessionization(spark, sf).collect()
    assert [(r["user_id"], r["n_sessions"]) for r in e2] == [(7, 1)]
    e5 = e5_session_window_stats(spark, sf).collect()
    assert [r["n_events"] for r in e5] == [3]

    # and one second PAST the gap does split
    import duckdb

    rows2 = [
        (1, "2024-01-01 00:00:00", 7, "click", 1.0, "{}"),
        (2, "2024-01-01 00:10:01", 7, "click", 1.0, "{}"),
    ]
    df2 = spark.createDataFrame(
        rows2, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))
    sf2 = str(tmp_path / "past_boundary")
    df2.write.parquet(f"{sf2}/events.parquet")
    assert [r["n_sessions"] for r in e2_sessionization(spark, sf2).collect()] == [2]
    assert len(e5_session_window_stats(spark, sf2).collect()) == 2

    # the DuckDB oracles agree on BOTH datasets (exact boundary + split)
    from insect_observation_data_pipeline_spark.queries import ORACLE

    for d, want_sessions in ((sf, 1), (sf2, 2)):
        con = duckdb.connect()
        # Spark writes a parquet DIRECTORY; DuckDB needs the part glob
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet/*.parquet'"
        )
        assert con.sql(ORACLE["e5_session_window_stats"]).fetchall().__len__() == want_sessions
        n2 = con.sql(ORACLE["e2_sessionization"]).fetchall()
        assert [r[2] for r in n2] == [want_sessions]


def test_tf_cosine_pairs_exact_and_maxdf(spark):
    """tf-cosine: identical docs score 1.0; doubling every count leaves
    cosine invariant; disjoint vocab emits no pair; max_df drops
    stop-terms from the join (scores only go down)."""
    rows = [
        (1, "apple banana cherry apple"),
        (2, "apple banana cherry apple"),                  # identical -> 1.0
        (3, "apple apple banana banana cherry cherry apple apple"),  # 2x counts
        (4, "durian elderberry fig"),                      # disjoint
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["cosine_tf"]
        for r in dedup.tf_cosine_pairs(df, threshold=0.1).collect()
    }
    assert got[(1, 2)] == 1.0
    assert got[(1, 3)] == 1.0  # scale-invariant
    assert not any(4 in p for p in got)
    cut = {
        (r["doc_a"], r["doc_b"]): r["cosine_tf"]
        for r in dedup.tf_cosine_pairs(df, threshold=0.01, max_df=2).collect()
    }
    assert all(cut[p] <= got.get(p, 1.0) for p in cut)


def test_tf_cosine_candidate_guard_exact_verify(spark):
    """candidate_max_df bounds the JOIN fan-out but verification is the
    FULL dot product: every emitted pair's score equals the unguarded
    score exactly; pairs sharing a rare term are found, pairs sharing
    only ubiquitous vocabulary are the documented recall trade."""
    common = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, common + " zebra77"),
        (2, common + " zebra77"),        # shares rare 'zebra77' with 1
        (3, common + " unique3token"),   # rare term shared with nobody
        (4, common),                     # only common vocab
        (5, common),                     # near-identical to 4 via common vocab only
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r["doc_a"], r["doc_b"]): r["cosine_tf"]
        for r in dedup.tf_cosine_pairs(df, threshold=0.5).collect()
    }
    guarded = {
        (r["doc_a"], r["doc_b"]): r["cosine_tf"]
        for r in dedup.tf_cosine_pairs(
            df, threshold=0.5, candidate_max_df=3
        ).collect()
    }
    assert guarded[(1, 2)] == exact[(1, 2)] == 1.0  # found via rare term,
    #  and the guarded score is the exact one, not a lower bound
    assert (4, 5) in exact and (4, 5) not in guarded  # the recall trade
    assert set(guarded) <= set(exact)
    assert all(guarded[p] == exact[p] for p in guarded)


def test_tf_cosine_guard_subset_randomized(spark):
    """Seeded sweep: over random corpora (common template + occasional
    rare tokens), the guarded pair set is a subset of the exact set at
    every candidate_max_df, with IDENTICAL scores on every emitted pair,
    and recall is monotone in the cutoff."""
    import random

    rng = random.Random(41)
    vocab = [f"w{i}" for i in range(12)]
    rows = []
    for doc_id in range(40):
        toks = [vocab[rng.randrange(12)] for _ in range(rng.randint(5, 15))]
        if rng.random() < 0.4:
            toks.append(f"rare{rng.randrange(8)}")
        rows.append((doc_id, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r["doc_a"], r["doc_b"]): r["cosine_tf"]
        for r in dedup.tf_cosine_pairs(df, threshold=0.6).collect()
    }
    prev_keys: set = set()
    for cutoff in (2, 5, 40):
        got = {
            (r["doc_a"], r["doc_b"]): r["cosine_tf"]
            for r in dedup.tf_cosine_pairs(
                df, threshold=0.6, candidate_max_df=cutoff
            ).collect()
        }
        assert set(got) <= set(exact)
        assert all(got[p] == exact[p] for p in got)
        assert prev_keys <= set(got)  # recall monotone in cutoff
        prev_keys = set(got)
    # cutoff >= n_docs admits every term -> guard degenerates to exact
    assert prev_keys == set(exact)


def test_tf_cosine_gram_kernel_matches_join_kernel(spark):
    """kernel='gram' (round-16: blocked BLAS integer-dot for closed
    vocabularies — the x34 rewrite) emits EXACTLY the join kernel's
    pair set with bit-identical scores, on the same randomized corpus
    the guard-subset sweep uses, and with block_rows forced small so
    the multi-block (i, j) grid path is exercised; the guard/threshold
    misuse combinations raise."""
    import random

    rng = random.Random(41)
    vocab = [f"w{i}" for i in range(12)]
    rows = []
    for doc_id in range(40):
        toks = [vocab[rng.randrange(12)] for _ in range(rng.randint(5, 15))]
        if rng.random() < 0.4:
            toks.append(f"rare{rng.randrange(8)}")
        rows.append((doc_id, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r["doc_a"], r["doc_b"]): r["cosine_tf"]
        for r in dedup.tf_cosine_pairs(df, threshold=0.6).collect()
    }
    gram = {
        (r["doc_a"], r["doc_b"]): r["cosine_tf"]
        for r in dedup.tf_cosine_pairs(
            df, threshold=0.6, kernel="gram"
        ).collect()
    }
    assert gram == exact and exact  # same pairs, bit-identical scores

    # multi-block grid: block_rows=7 over 40 docs -> g=6, 36 tasks;
    # every pair must still land in exactly one task
    tf = (
        df.select(
            "doc_id",
            F.explode(
                F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    blocked = {
        (r["doc_a"], r["doc_b"]): r["cosine_tf"]
        for r in dedup._tf_cosine_pairs_gram(
            tf, threshold=0.6, block_rows=7
        ).collect()
    }
    assert blocked == exact

    with pytest.raises(ValueError, match="guards"):
        dedup.tf_cosine_pairs(df, threshold=0.6, kernel="gram", max_df=2)
    with pytest.raises(ValueError, match="threshold > 0"):
        dedup.tf_cosine_pairs(df, threshold=0.0, kernel="gram")
    with pytest.raises(ValueError, match="unknown kernel"):
        dedup.tf_cosine_pairs(df, threshold=0.6, kernel="dense")


def test_source_overlap_matrix(spark):
    # two sources sharing one 3-gram ("a b c"), a third sharing nothing
    rows = [
        (1, "a b c d", "s1"),
        (2, "a b c e", "s2"),   # shares shingle "a b c" with doc 1
        (3, "x y z w", "s3"),   # disjoint vocabulary
        (4, "a b c d", "s1"),   # dup doc within s1: must not inflate counts
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        (r["source_a"], r["source_b"]): (r["shared_shingles"], r["overlap"])
        for r in dedup.source_overlap_matrix(docs, group_col="source").collect()
    }
    # s1 {a b c, b c d}, s2 {a b c, b c e}: share exactly {a b c};
    # overlap = 1 / min(2, 2) = 0.5. s3 pairs with nobody.
    assert out == {("s1", "s2"): (1, 0.5)}


def test_source_overlap_maxdf_lower_bound(spark):
    # "a b c" appears in all 3 sources; with max_df=2 it leaves the
    # join, so s1-s2 keep only their rarer shared shingle and s1-s3 /
    # s2-s3 (who share ONLY the ubiquitous one) drop out entirely --
    # shared counts are a lower bound, never an overcount
    rows = [
        (1, "a b c d e", "s1"),  # shingles: abc, bcd, cde
        (2, "a b c d f", "s2"),  # shingles: abc, bcd, cdf
        (3, "a b c x y", "s3"),  # shingles: abc, bcx, cxy
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    full = {
        (r["source_a"], r["source_b"]): r["shared_shingles"]
        for r in dedup.source_overlap_matrix(docs, group_col="source").collect()
    }
    assert full == {("s1", "s2"): 2, ("s1", "s3"): 1, ("s2", "s3"): 1}
    guarded = {
        (r["source_a"], r["source_b"]): r["shared_shingles"]
        for r in dedup.source_overlap_matrix(
            docs, group_col="source", max_df=2
        ).collect()
    }
    assert guarded == {("s1", "s2"): 1}
    assert all(guarded[p] <= full[p] for p in guarded)


def test_wav_ima_adpcm_decode_reference_and_roundtrip(spark):
    """Round-7: IMA ADPCM (format tag 17) decodes to samples.

    Three pins: (1) the block decode agrees nibble-for-nibble with an
    independent scalar reference decoder written straight from the IMA
    spec's pseudocode (catches de-interleave/header mistakes the
    round-trip bound would absorb); (2) encode->decode reconstruction
    error on a smooth waveform stays within a few quantizer steps
    (ADPCM is lossy; bit equality is the wrong assertion); (3) stereo
    channels survive the 4-byte group interleave unswapped, and the
    executor-side feature path reports decoded-sample counts, not
    block counts."""
    import struct

    import numpy as np

    # (1) reference cross-check, mono: one full 256-byte block
    t = np.arange(600)
    mono = (3000 * np.sin(t / 7.0)).astype(np.int16)[:, None]
    wav = multimodal.wav_encode_ima_adpcm(mono, 8000)
    dec = multimodal.wav_decode_samples(wav)

    fmt, data = multimodal._wav_chunks(wav)
    assert fmt[0] == 17 and fmt[5] == 4
    steps, adj = multimodal._IMA_STEPS, multimodal._IMA_INDEX_ADJ
    ref = []
    for base in range(0, len(data), 256):
        block = data[base : base + 256]
        pred = struct.unpack_from("<h", block, 0)[0]
        idx = block[2]
        ref.append(pred)
        for byte in block[4:]:
            for code in (byte & 0xF, byte >> 4):
                step = steps[idx]
                diff = step >> 3
                if code & 4:
                    diff += step
                if code & 2:
                    diff += step >> 1
                if code & 1:
                    diff += step >> 2
                pred = pred - diff if code & 8 else pred + diff
                pred = max(-32768, min(32767, pred))
                idx = max(0, min(88, idx + adj[code & 7]))
                ref.append(pred)
    assert dec[:, 0].tolist() == ref[: dec.shape[0]]

    # (2) lossy round-trip bound: reconstruction tracks the original
    err = np.abs(dec[: len(mono), 0].astype(np.int64) - mono[:, 0])
    assert int(err.max()) < 256  # a few quantizer steps at this level
    assert np.corrcoef(dec[: len(mono), 0], mono[:, 0])[0, 1] > 0.999

    # (3) stereo: distinct per-channel content stays unswapped
    left = (3000 * np.sin(t / 7.0)).astype(np.int16)
    right = (500 * np.sin(t / 23.0) - 4000).astype(np.int16)
    st = np.stack([left, right], axis=1)
    wav2 = multimodal.wav_encode_ima_adpcm(st, 8000)
    dec2 = multimodal.wav_decode_samples(wav2)
    assert dec2.shape[1] == 2
    for c, src in ((0, left), (1, right)):
        e = np.abs(dec2[: len(src), c].astype(np.int64) - src)
        assert int(e.max()) < 256, (c, int(e.max()))

    feats = multimodal._decode_audio_wav(wav2)
    assert feats["n_frames"] == dec2.shape[0]  # samples, not blocks
    assert feats["peak_amp"] == int(np.abs(dec2).max())

    df = spark.createDataFrame(
        [("adpcm", "audio", bytearray(wav2))],
        "media_id string, media_type string, payload binary",
    )
    row = multimodal.extract_features(df, "audio").collect()[0]
    assert row["peak_amp"] == feats["peak_amp"]
    assert row["n_frames"] == dec2.shape[0]


def test_source_overlap_guard_randomized(spark):
    """Seeded sweep for x38's two execution machines: the capped path
    (df-filtered collect_set + pair explode) against the exact path
    (two-sided self-join). Over random multi-source corpora: capped
    shared counts are a per-pair lower bound that is monotone in
    max_df, the pair set is monotone too, and a cap >= the source
    count makes the collect machine reproduce the self-join machine
    EXACTLY — each implementation checks the other."""
    import random

    rng = random.Random(43)
    vocab = [f"w{i}" for i in range(10)]
    rows = []
    doc_id = 0
    for src in range(6):
        for _ in range(rng.randint(3, 6)):
            toks = [vocab[rng.randrange(10)] for _ in range(rng.randint(4, 10))]
            if rng.random() < 0.5:
                toks += [f"s{src}tok{rng.randrange(3)}"] * 3
            rows.append((doc_id, " ".join(toks), f"src{src}"))
            doc_id += 1
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")

    def matrix(max_df=None):
        return {
            (r["source_a"], r["source_b"]): (r["shared_shingles"], r["overlap"])
            for r in dedup.source_overlap_matrix(
                df, group_col="source", max_df=max_df
            ).collect()
        }

    exact = matrix()
    prev: dict = {}
    for cap in (2, 4, 6):
        got = matrix(max_df=cap)
        assert set(got) <= set(exact)
        assert all(got[p][0] <= exact[p][0] for p in got)  # lower bound
        assert set(prev) <= set(got)  # pair recall monotone in cap
        assert all(prev[p][0] <= got[p][0] for p in prev)  # counts too
        prev = got
    # cap >= #sources admits every shingle: the collect_set machine
    # must equal the self-join machine bit-for-bit (incl. overlap)
    assert matrix(max_df=6) == exact


def test_hll_registers_merge(spark):
    """The property the 100 TB story rests on: HLL registers built per
    shard then merged with max() per bucket equal the registers built
    over the whole corpus in one pass — so the sketch can be kept as
    per-shard/per-epoch state and folded without touching raw data.
    Also pins duplicate-insensitivity (re-unioning a shard changes
    nothing) and the register-count bound (<= 2^p rows)."""
    from insect_observation_data_pipeline_spark.functions.approx import hll_registers

    rows = [(i % 3, f"v{i * 7919 % 501}") for i in range(2000)]
    df = spark.createDataFrame(rows, "shard int, val string")

    def as_map(regs):
        return {r["bucket"]: r["max_rho"] for r in regs.collect()}

    whole = as_map(hll_registers(df, "val", p=8))
    sharded = hll_registers(df, "val", ["shard"], p=8)
    merged = as_map(
        sharded.groupBy("bucket").agg(F.max("max_rho").alias("max_rho"))
    )
    assert merged == whole
    assert len(whole) <= 256
    doubled = as_map(
        hll_registers(df.union(df.filter("shard = 1")), "val", p=8)
    )
    assert doubled == whole


def test_bloom_decontaminate_one_sided(spark):
    """Bloom membership has no false negatives: every doc the exact
    x21-style join flags is flagged by the Bloom probe with
    n_bloom >= n_true, and shrinking m only ADDS false positives
    (monotone in filter size), never loses a true hit."""
    from insect_observation_data_pipeline_spark.llm.dedup import bloom_decontaminate

    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(60):
        toks = [vocab[(i * 3 + j) % 40] for j in range(8)]
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    train = df.filter("doc_id % 10 != 0")
    holdout = df.filter("doc_id % 10 = 0")

    def flags(m):
        return {
            r["doc_id"]: (r["n_bloom"], r["n_true"])
            for r in bloom_decontaminate(
                train, holdout, m=m, min_hits=1
            ).collect()
        }

    big = flags(8192)
    assert big, "fixture must produce overlap"
    assert all(nb >= nt for nb, nt in big.values())
    exact_flagged = {d for d, (_, nt) in big.items() if nt >= 1}
    assert exact_flagged <= set(big)
    small = flags(64)  # heavy collisions: strictly more positives
    assert set(big) <= set(small)
    assert all(small[d][0] >= big[d][0] for d in big)
    assert all(small[d][1] == big[d][1] for d in big)  # exact side fixed


def test_segment_dedup_strips_shared_boilerplate(spark):
    """x42 semantics: a boilerplate segment pasted into several docs is
    stripped from ALL of them; unique prose survives in original order;
    an all-boilerplate doc survives with kept_text = ''; an empty doc
    produces no output row (zero segments). Brute-forced in Python over
    the same fixed 4-word windows."""
    from insect_observation_data_pipeline_spark.llm.dedup import segment_dedup

    boiler = "subscribe to our newsletter"  # exactly one 4-word window
    rows = [
        (0, boiler + " alpha beta gamma delta epsilon zeta eta theta"),
        (1, "iota kappa lam mu " + boiler + " nu xi omicron pi"),
        (2, boiler),
        (3, "rho sigma tau upsilon phi chi psi omega"),
        (4, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in segment_dedup(docs, seg_words=4, min_df=2).collect()
    }

    # python brute force over identical segmentation
    def segs(text):
        tk = [t for t in text.split(" ") if t]
        return [
            " ".join(tk[i : i + 4]) for i in range(0, len(tk), 4)
        ]
    all_segs = {i: segs(t) for i, t in rows}
    from collections import Counter
    df_count = Counter()
    for i, ss in all_segs.items():
        for s in set(ss):
            df_count[s] += 1
    dup = {s for s, c in df_count.items() if c >= 2}

    assert 4 not in out, "empty doc must drop out (zero segments)"
    for i, ss in all_segs.items():
        if not ss:
            continue
        keep = [s for s in ss if s not in dup]
        r = out[i]
        assert r["n_segments"] == len(ss)
        assert r["n_dup_segments"] == len(ss) - len(keep)
        assert r["kept_text"] == " ".join(keep)
        assert r["kept_words"] == sum(len(s.split(" ")) for s in keep)
    # the boilerplate window really was shared and really is gone
    assert boiler in dup
    assert all(boiler not in out[i]["kept_text"] for i in (0, 1, 2))
    assert out[2]["kept_text"] == ""


def test_repeated_spans_cross_doc_only_and_positions(spark):
    """x52 semantics: a block shared by two docs at DIFFERENT offsets is
    reported in both with exact token positions; a phrase repeated only
    WITHIN one document does not flag (cross-doc df >= 2); a unique doc
    yields no rows; spans shorter than min_span_words are dropped."""
    from insect_observation_data_pipeline_spark.llm.dedup import repeated_spans

    shared = " ".join(f"s{i}" for i in range(20))  # 20-token block
    inner = "p q r s"  # 4-token phrase, repeated twice inside doc 3 only
    rows = [
        (0, shared + " a0 a1 a2 a3"),
        (1, "b0 b1 b2 b3 b4 b5 " + shared),
        (2, "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9"),
        (3, inner + " m0 m1 m2 m3 " + inner + " m4 m5 m6 m7"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        tuple(r)
        for r in repeated_spans(
            docs, anchor_words=4, min_span_words=8
        ).collect()
    )
    assert got == [(0, 0, 19, 20), (1, 6, 25, 20)], got


def test_repeated_spans_randomized_vs_bruteforce(spark):
    """Randomized sweep: repeated_spans agrees with a Python coverage-
    union brute force (flag every k-window seen in >= 2 distinct docs,
    union the covered token intervals, emit maximal runs >= min_span)
    over random small-vocabulary corpora."""
    import numpy as np

    from insect_observation_data_pipeline_spark.llm.dedup import repeated_spans

    def brute(rows, k, min_span):
        toks = {i: [t for t in txt.split(" ") if t] for i, txt in rows}
        from collections import defaultdict

        occ = defaultdict(set)
        for i, tk in toks.items():
            for p in range(len(tk) - k + 1):
                occ[" ".join(tk[p : p + k])].add(i)
        flagged = {a for a, ds in occ.items() if len(ds) >= 2}
        out = []
        for i, tk in toks.items():
            covered = [False] * len(tk)
            for p in range(len(tk) - k + 1):
                if " ".join(tk[p : p + k]) in flagged:
                    for j in range(p, p + k):
                        covered[j] = True
            j = 0
            while j < len(tk):
                if covered[j]:
                    s = j
                    while j < len(tk) and covered[j]:
                        j += 1
                    if j - s >= min_span:
                        out.append((i, s, j - 1, j - s))
                else:
                    j += 1
        return sorted(out)

    rng = np.random.default_rng(52)
    for trial in range(4):
        k, min_span = [(3, 5), (4, 8), (2, 4), (5, 10)][trial]
        vocab = [f"w{v}" for v in range(6 + 2 * trial)]
        rows = [
            (
                i,
                " ".join(
                    rng.choice(vocab, size=int(rng.integers(0, 40)))
                ),
            )
            for i in range(12)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(
            tuple(r)
            for r in repeated_spans(
                docs, anchor_words=k, min_span_words=min_span
            ).collect()
        )
        assert got == brute(rows, k, min_span), (
            f"trial {trial} (k={k}, min_span={min_span})"
        )


def test_e26_census_matches_components(spark):
    """e26 is exactly its two components tagged and NULL-padded — the
    merge layer adds no rows and changes no values."""
    from insect_observation_data_pipeline_spark.queries.llm_testdata import (
        e6_funnel_steps,
        e26_event_census,
    )
    from insect_observation_data_pipeline_spark.queries.testdata import (
        e7_cohort_retention,
    )

    sf = "/root/testdata/sf0.001"
    census = e26_event_census(spark, sf).collect()
    funnel = {
        tuple(r) for r in e6_funnel_steps(spark, sf).collect()
    }
    cohort = {
        tuple(r) for r in e7_cohort_retention(spark, sf).collect()
    }
    got_funnel = {
        (r["user_id"], r["ts_view"], r["ts_click"], r["ts_purchase"],
         r["funnel_depth"])
        for r in census if r["grain"] == "funnel"
    }
    got_cohort = {
        (r["cohort_week"], r["week_n"], r["n_users"])
        for r in census if r["grain"] == "cohort"
    }
    assert got_funnel == funnel
    assert got_cohort == cohort
    assert len(census) == len(funnel) + len(cohort)


def test_scrub_repeated_spans_matches_bruteforce(spark):
    """The acting form: every token covered by a qualifying repeated
    span is removed, everything else survives in order, docs without a
    qualifying span keep their (whitespace-normalized) text verbatim —
    against a Python coverage brute force on random corpora."""
    import numpy as np

    from insect_observation_data_pipeline_spark.llm.dedup import (
        scrub_repeated_spans,
    )

    def brute(rows, k, min_span):
        toks = {i: [t for t in txt.split(" ") if t] for i, txt in rows}
        from collections import defaultdict

        occ = defaultdict(set)
        for i, tk in toks.items():
            for p in range(len(tk) - k + 1):
                occ[" ".join(tk[p : p + k])].add(i)
        flagged = {a for a, ds in occ.items() if len(ds) >= 2}
        out = {}
        for i, tk in toks.items():
            covered = [False] * len(tk)
            for p in range(len(tk) - k + 1):
                if " ".join(tk[p : p + k]) in flagged:
                    for j in range(p, p + k):
                        covered[j] = True
            # qualifying runs only: shorter repeated runs are kept
            drop = [False] * len(tk)
            j = 0
            while j < len(tk):
                if covered[j]:
                    s = j
                    while j < len(tk) and covered[j]:
                        j += 1
                    if j - s >= min_span:
                        for q in range(s, j):
                            drop[q] = True
                else:
                    j += 1
            kept = [t for t, d in zip(tk, drop) if not d]
            out[i] = (len(tk), len(kept), " ".join(kept))
        return out

    rng = np.random.default_rng(54)
    for trial in range(3):
        k, min_span = [(3, 5), (4, 8), (2, 4)][trial]
        vocab = [f"w{v}" for v in range(6 + 2 * trial)]
        rows = [
            (i, " ".join(rng.choice(vocab, size=int(rng.integers(0, 40)))))
            for i in range(10)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_tokens"], r["kept_words"], r["kept_text"])
            for r in scrub_repeated_spans(
                docs, anchor_words=k, min_span_words=min_span
            ).collect()
        }
        assert got == brute(rows, k, min_span), f"trial {trial}"


def test_x53_census_matches_components(spark):
    """x53 is exactly its two components tagged and NULL-padded."""
    from insect_observation_data_pipeline_spark.queries.llm_testdata import (
        x22_repetition_signals,
        x25_token_prob_score,
        x53_doc_signal_census,
    )

    sf = "/root/testdata/sf0.001"
    census = x53_doc_signal_census(spark, sf).collect()
    rep = {tuple(r) for r in x22_repetition_signals(spark, sf).collect()}
    prob = {tuple(r) for r in x25_token_prob_score(spark, sf).collect()}
    got_rep = {
        (r["doc_id"], r["n_tokens"], r["n_distinct"], r["top_token_n"],
         r["distinct_frac"], r["top_frac"])
        for r in census if r["signal"] == "repetition"
    }
    got_prob = {
        (r["doc_id"], r["n_tokens"], r["mean_tok_ppm"])
        for r in census if r["signal"] == "fluency"
    }
    assert got_rep == rep
    assert got_prob == prob
    assert len(census) == len(rep) + len(prob)


def test_segment_dedup_randomized_vs_bruteforce(spark):
    """Randomized sweep: segment_dedup agrees with a Python brute
    force over random corpora across seg_words and min_df settings,
    with duplicate runs injected at random offsets (so segments
    straddle window boundaries and genuinely shared windows arise
    only where alignment permits — exactly the operator's contract)."""
    import random
    from collections import Counter

    from insect_observation_data_pipeline_spark.llm.dedup import segment_dedup

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(30)]
    boiler_pool = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 9)))
        for _ in range(4)
    ]
    for trial, (w, min_df) in enumerate([(4, 2), (5, 3), (3, 2)]):
        rows = []
        for i in range(40):
            words = [rng.choice(vocab) for _ in range(rng.randint(0, 25))]
            if rng.random() < 0.6:
                ins = rng.choice(boiler_pool).split(" ")
                at = rng.randint(0, len(words))
                words[at:at] = ins
            rows.append((i, " ".join(words)))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: r
            for r in segment_dedup(
                docs, seg_words=w, min_df=min_df
            ).collect()
        }

        def segs(text):
            tk = [t for t in text.split(" ") if t]
            return [" ".join(tk[j : j + w]) for j in range(0, len(tk), w)]

        all_segs = {i: segs(t) for i, t in rows}
        df_count = Counter()
        for ss in all_segs.values():
            for s in set(ss):
                df_count[s] += 1
        dup = {s for s, c in df_count.items() if c >= min_df}
        for i, ss in all_segs.items():
            if not ss:
                assert i not in got, f"trial {trial}: empty doc {i}"
                continue
            keep = [s for s in ss if s not in dup]
            r = got[i]
            assert r["n_segments"] == len(ss), f"trial {trial} doc {i}"
            assert r["n_dup_segments"] == len(ss) - len(keep)
            assert r["kept_text"] == " ".join(keep), f"trial {trial} doc {i}"
            assert r["kept_words"] == sum(len(s.split(" ")) for s in keep)


def test_weighted_sample_deterministic_and_exclusions(spark):
    """weighted_sample is a pure function of (seed, key, weight): same
    selection across repartitionings and re-runs; rows with NULL or
    non-positive weight never appear; stratified mode returns at most
    k per stratum with the same determinism."""
    from insect_observation_data_pipeline_spark.llm.curation import weighted_sample

    rows = [
        (i, float(1 + i % 7) if i % 11 else (0.0 if i % 2 else None), f"s{i % 3}")
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, w double, src string")

    def ids(frame, **kw):
        return [
            r["doc_id"]
            for r in weighted_sample(
                frame, weight_col="w", key_col="doc_id", **kw
            ).collect()
        ]

    a = ids(df, k=20, seed="s1")
    b = ids(df.repartition(13, "src"), k=20, seed="s1")
    assert sorted(a) == sorted(b) and len(a) == 20
    assert ids(df, k=20, seed="s2") != a  # seed actually matters
    dead = {i for i, w, _ in rows if w is None or w <= 0}
    assert not dead & set(a)

    per = weighted_sample(
        df, weight_col="w", key_col="doc_id", k=5, seed="s1",
        strata_col="src",
    ).collect()
    by_src = {}
    for r in per:
        by_src.setdefault(r["src"], []).append(r["doc_id"])
    assert set(by_src) == {"s0", "s1", "s2"}
    assert all(len(v) == 5 for v in by_src.values())
    per2 = weighted_sample(
        df.repartition(7), weight_col="w", key_col="doc_id", k=5,
        seed="s1", strata_col="src",
    ).collect()
    assert sorted(r["doc_id"] for r in per2) == sorted(
        r["doc_id"] for r in per
    )


def test_weighted_sample_first_pick_tracks_weights(spark):
    """Statistical contract: with k=1 the inclusion probability is
    exactly w_i / sum(w), so over many independent seeds the pick
    frequency must track the weights — the 10x-weight row wins about
    half the races and strictly more often than any unit-weight row,
    with each count inside generous 4-sigma binomial bounds."""
    import math

    from insect_observation_data_pipeline_spark.llm.curation import weighted_sample

    weights = {0: 1.0, 1: 2.0, 2: 3.0, 3: 4.0, 4: 10.0}
    df = spark.createDataFrame(
        [(i, w) for i, w in weights.items()], "doc_id long, w double"
    )
    n = 120
    counts = {i: 0 for i in weights}
    # per-seed loop kept deliberately (round-16 A/B): batching the 120
    # races into unioned subplans was SLOWER (one 120-way union 108 s,
    # 20-way chunks 59 s, vs 45 s for the loop on the same session) —
    # each weighted_sample subplan re-plans its top-k subtree, so the
    # union multiplies Catalyst work without removing any
    for s in range(n):
        (pick,) = weighted_sample(
            df, weight_col="w", key_col="doc_id", k=1, seed=f"seed{s}"
        ).collect()
        counts[pick["doc_id"]] += 1
    total_w = sum(weights.values())
    for i, w in weights.items():
        p = w / total_w
        sigma = math.sqrt(n * p * (1 - p))
        assert abs(counts[i] - n * p) <= 4 * sigma + 1, (i, counts)
    assert counts[4] > max(counts[i] for i in (0, 1, 2))


def _bpe_reference(word_counts, rounds):
    """Sequential Sennrich BPE on a word histogram: position-weighted
    pair counts, max count with (a, b)-lexicographic tie-break, greedy
    left-to-right merge."""
    words = {
        tuple(list(w) + ["</w>"]): n for w, n in word_counts.items()
    }
    out = []
    for r in range(1, rounds + 1):
        counts = {}
        for syms, n in words.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + n
                )
        if not counts:
            break
        (a, b), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        out.append((r, a, b, a + b, c))
        new_words = {}
        for syms, n in words.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            key = tuple(merged)
            new_words[key] = new_words.get(key, 0) + n
        words = new_words
    return out


def test_bpe_merges_match_reference_and_partitioning(spark):
    """Distributed BPE learns the exact merge table a sequential
    trainer produces — same pairs, same order, same counts — and the
    table is invariant under repartitioning (determinism is the whole
    point of re-learning a tokenizer on a 100 TB corpus). The corpus
    includes repeated-letter words so the greedy overlap rule
    ('aaa' -> [aa, a]) is exercised, plus a singleton word."""
    import random

    from insect_observation_data_pipeline_spark.llm.bpe import bpe_merges

    rng = random.Random(11)
    vocab = ["low", "lower", "lowest", "newer", "wider", "aaa", "banana", "z"]
    rows = []
    for i in range(300):
        k = rng.randint(2, 9)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(k))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    word_counts = {}
    for _, t in rows:
        for w in t.split(" "):
            word_counts[w] = word_counts.get(w, 0) + 1
    want = _bpe_reference(word_counts, 10)

    got = [
        (r["rank"], r["pair_a"], r["pair_b"], r["merged"], r["pair_count"])
        for r in bpe_merges(docs, rounds=10)
        .orderBy("rank")
        .collect()
    ]
    assert got == want, f"\ngot:  {got}\nwant: {want}"

    got2 = [
        (r["rank"], r["pair_a"], r["pair_b"], r["merged"], r["pair_count"])
        for r in bpe_merges(docs.repartition(17), rounds=10)
        .orderBy("rank")
        .collect()
    ]
    assert got2 == want


def test_bpe_sentinel_survives_pair_exhaustion(spark):
    """A degenerate corpus (single repeated one-char word) exhausts its
    real pairs after two merges; the sentinel keeps the fixpoint from
    collapsing and the output contains exactly the real merges."""
    from insect_observation_data_pipeline_spark.llm.bpe import bpe_merges

    docs = spark.createDataFrame(
        [(i, "z z z") for i in range(5)], "doc_id long, text string"
    )
    got = [
        (r["rank"], r["merged"], r["pair_count"])
        for r in bpe_merges(docs, rounds=6).orderBy("rank").collect()
    ]
    # round 1 fuses (z, </w>) with count 15; nothing is left after
    assert got == [(1, "z</w>", 15)]


def test_bpe_encode_applies_learned_merges(spark):
    """bpe_encode with the learned table shortens every document's
    symbol sequence (or keeps it equal), never below one symbol per
    word, and matches a hand-computed sequence on a known word."""
    from insect_observation_data_pipeline_spark.llm.bpe import (
        bpe_encode,
        bpe_merges,
    )

    docs = spark.createDataFrame(
        [(i, "low low lower") for i in range(4)], "doc_id long, text string"
    )
    merges = [
        (r["pair_a"], r["pair_b"])
        for r in bpe_merges(docs, rounds=4).orderBy("rank").collect()
    ]
    enc = {
        r["doc_id"]: (r["n_bpe_symbols"], r["n_words"])
        for r in bpe_encode(docs, merges).collect()
    }
    for n_sym, n_words in enc.values():
        assert n_words == 3
        # raw char symbols: 'low'+marker = 4, 'lower'+marker = 6 -> 14
        assert n_words <= n_sym < 14


def test_bpe_merge_fold_matches_python_greedy(spark):
    """The F.aggregate merge fold is exactly the sequential greedy
    left-to-right scan, across randomized symbol arrays heavy in
    overlap traps (aaa, abab, pair at array start/end, pair absent,
    single-symbol arrays)."""
    import random

    from pyspark.sql import functions as F

    from insect_observation_data_pipeline_spark.llm.bpe import _merge_adjacent

    rng = random.Random(3)
    alphabet = ["a", "b", "ab", "</w>"]
    cases = [["a"], ["a", "b"], ["b", "a"], ["a", "a", "a"],
             ["a", "b", "a", "b"], ["ab", "a", "b"], ["</w>"]]
    for _ in range(40):
        cases.append([rng.choice(alphabet) for _ in range(rng.randint(1, 9))])

    def greedy(syms, a, b):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i long, syms array<string>"
    )
    for a, b in [("a", "b"), ("a", "a"), ("ab", "</w>"), ("b", "b")]:
        got = {
            r["i"]: r["m"]
            for r in df.select(
                "i", _merge_adjacent(F.col("syms"), F.lit(a), F.lit(b)).alias("m")
            ).collect()
        }
        for i, c in enumerate(cases):
            assert got[i] == greedy(c, a, b), (a, b, c, got[i])


def test_wav_extensible_container_decode(spark):
    """Round-7 stretch goal: WAVE_FORMAT_EXTENSIBLE (tag 0xFFFE — the
    required container for >2 channels / >16 valid bits) resolves to
    its effective codec via the SubFormat GUID's Data1 field, so
    extensible PCM decodes bit-identically to its classic-tag twin —
    including through the executor-side mapInPandas feature path. A
    non-audio SubFormat GUID keeps 0xFFFE and falls back to
    header-only features instead of mis-decoding."""
    import struct

    import numpy as np

    sq = np.tile(np.array([[700, -700, 300]], dtype=np.int16), (40, 1))
    plain = multimodal.wav_encode_pcm16(sq, 16000)
    ext = multimodal.wav_encode_extensible_pcm16(sq, 16000, channel_mask=0x7)

    fmt, _ = multimodal._wav_chunks(ext)
    assert fmt[0] == 1 and fmt[1] == 3 and fmt[5] == 16
    assert (
        multimodal.wav_decode_samples(ext)
        == multimodal.wav_decode_samples(plain)
    ).all()

    df = spark.createDataFrame(
        [("plain", "audio", bytearray(plain)), ("ext", "audio", bytearray(ext))],
        "media_id string, media_type string, payload binary",
    )
    out = {
        r["media_id"]: r
        for r in multimodal.extract_features(df, "audio").collect()
    }
    assert (out["ext"]["peak_amp"], out["ext"]["rms_amp"]) == (
        out["plain"]["peak_amp"],
        out["plain"]["rms_amp"],
    )
    assert out["ext"]["n_frames"] == out["plain"]["n_frames"] == 40

    # corrupt the SubFormat tail -> not a KSDATAFORMAT audio GUID ->
    # stays 0xFFFE -> header-only features, never a wrong decode
    bad = bytearray(ext)
    off = bad.index(b"fmt ") + 8 + 24  # SubFormat GUID start
    bad[off + 6] ^= 0xFF
    fmt_bad, _ = multimodal._wav_chunks(bytes(bad))
    assert fmt_bad[0] == 0xFFFE
    feats = multimodal._decode_audio_wav(bytes(bad))
    assert feats["feature_kind"] == "wav"
    assert "peak_amp" not in feats

    # guard: the encoder's fmt body is the documented 40-byte layout
    fbody_len = struct.unpack(
        "<I", ext[ext.index(b"fmt ") + 4 : ext.index(b"fmt ") + 8]
    )[0]
    assert fbody_len == 40


def test_bigram_lm_scores_hand_corpus(spark):
    """Hand-computable add-k bigram model: corpus {a b a b, a b, c}.
    c(a,b)=3, c(b,a)=1; contexts c(a)=3, c(b)=1; V={a,b}=2; k=0.5:
    p(b|a) = 3.5/4, p(a|b) = 1.5/2. Also pins the smoothing
    normalization (sum of p over the V continuations of a context is
    exactly 1) and the no-bigram-doc contract (n_bigrams 0, NULL)."""
    import math

    from insect_observation_data_pipeline_spark.llm.curation import (
        bigram_lm_scores,
    )

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "c")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in bigram_lm_scores(docs).collect()}
    p_ab, p_ba = 3.5 / 4.0, 1.5 / 2.0
    exp1 = (2 * -math.log(p_ab) + 1 * -math.log(p_ba)) / 3
    assert got[1]["n_bigrams"] == 3
    assert abs(got[1]["avg_nll"] - exp1) < 1e-6
    assert got[2]["n_bigrams"] == 1
    assert abs(got[2]["avg_nll"] - -math.log(p_ab)) < 1e-6
    assert got[3]["n_bigrams"] == 0 and got[3]["avg_nll"] is None
    # normalization: p(b|a) + p(a|a) = 3.5/4 + 0.5/4 = 1
    assert abs((3 + 0.5) / 4.0 + 0.5 / 4.0 - 1.0) < 1e-15


def test_bm25_topk_hand_corpus(spark):
    """Hand-checkable BM25: 3 docs, query 'cat'. c appears in d1 (tf 2,
    len 4) and d2 (tf 1, len 2); df=2, N=3, total tokens 10, avgdl =
    10/3. idf = ln(1 + 1.5/2.5). Verifies the exact Lucene-BM25
    arithmetic, the ranking (higher tf but longer doc vs shorter doc),
    and that docs without query terms never appear."""
    import math

    from insect_observation_data_pipeline_spark.llm.similarity import bm25_topk

    docs = spark.createDataFrame(
        [(1, "cat cat dog fish"), (2, "cat bird"), (3, "dog dog fish lake")],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        [("q", "cat")], "query_id string, query_text string"
    )
    rows = bm25_topk(docs, qs, k=10).collect()
    got = {r["doc_id"]: (r["rank"], r["score"]) for r in rows}
    assert set(got) == {1, 2}, "doc 3 has no query terms"

    k1, b, avgdl = 1.2, 0.75, 10 / 3
    idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))

    def s(tf, dl):
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert abs(got[1][1] - round(s(2, 4), 4)) < 1e-9
    assert abs(got[2][1] - round(s(1, 2), 4)) < 1e-9
    # ranks follow the rounded-score ordering
    order = sorted(got.items(), key=lambda kv: kv[1][0])
    assert [d for d, _ in order] == sorted(
        got, key=lambda d: (-got[d][1], d)
    )


def test_rrf_fuse_hand_case(spark):
    """RRF hand-check: system A ranks {d1:1, d2:2}, system B ranks
    {d2:1, d3:2}; c=60. d2 = 1/62 + 1/61 wins over d1 = 1/61 (the
    consensus-beats-single-top property RRF exists for); d3 = 1/62.
    n_systems counts contributing rankers."""
    from insect_observation_data_pipeline_spark.llm.similarity import rrf_fuse

    a = spark.createDataFrame(
        [("q", 1, 1), ("q", 2, 2)], "query_id string, doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [("q", 2, 1), ("q", 3, 2)], "query_id string, doc_id long, rank int"
    )
    rows = {r["doc_id"]: r for r in rrf_fuse([a, b], k=10).collect()}
    assert rows[2]["rank"] == 1 and rows[2]["n_systems"] == 2
    assert rows[1]["rank"] == 2 and rows[1]["n_systems"] == 1
    assert rows[3]["rank"] == 3
    assert abs(rows[2]["rrf_score"] - round(1 / 62 + 1 / 61, 6)) < 1e-9
    assert abs(rows[1]["rrf_score"] - round(1 / 61, 6)) < 1e-9


def test_bpe_symbol_topk_matches_sequential_reference(spark):
    """Train (2 merges) + encode + histogram on a hand corpus must
    equal a from-scratch sequential BPE implemented inline: trains on
    the word-TYPE histogram with greedy non-overlapping pair counts
    and lexicographic tie-break, encodes by rank-ordered greedy fusing
    — the full x47 path, independently re-derived."""
    import collections

    from insect_observation_data_pipeline_spark.llm.bpe import (
        WORD_END,
        bpe_merges,
        bpe_symbol_topk,
    )

    texts = ["low low lower", "lowest low slow", "slow slower low"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    # sequential reference
    words = collections.Counter(
        w for t in texts for w in t.split(" ") if w
    )
    vocab = {w: tuple(list(w) + [WORD_END]) for w in words}

    def fuse(syms, a, b):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return tuple(out)

    ref_merges = []
    for _ in range(2):
        pc = collections.Counter()
        for w, c in words.items():
            syms, i = vocab[w], 0
            while i + 1 < len(vocab[w]):
                pc[(vocab[w][i], vocab[w][i + 1])] += c
                i += 1
        mx = max(pc.values())
        a, b = min(p for p, n in pc.items() if n == mx)
        ref_merges.append((a, b))
        vocab = {w: fuse(s, a, b) for w, s in vocab.items()}
    hist = collections.Counter()
    for w, c in words.items():
        for s in vocab[w]:
            hist[s] += c
    expected = sorted(hist.items(), key=lambda kv: (-kv[1], kv[0]))[:20]

    got_merges = [
        (r["pair_a"], r["pair_b"])
        for r in bpe_merges(docs, rounds=2).orderBy("rank").collect()
    ]
    assert got_merges == ref_merges
    got = [
        (r["symbol"], r["n"])
        for r in bpe_symbol_topk(docs, got_merges, k=20)
        .orderBy(__import__("pyspark").sql.functions.desc("n"), "symbol")
        .collect()
    ]
    assert got == expected


def test_binned_quantiles_matches_exact_rank(spark):
    """Upper-edge semantics: for every group and percentile, the sketch
    estimate is the upper edge of the exact rank-quantile's bin —
    est - width <= x_rank < est — plus exact n_rows / occupied-bin
    counts."""
    import random

    from insect_observation_data_pipeline_spark.functions.approx import (
        binned_quantiles,
    )

    rng = random.Random(42)
    rows = [(f"g{i % 3}", rng.randrange(0, 500)) for i in range(600)]
    df = spark.createDataFrame(rows, "g string, v long")
    out = {
        r["g"]: r
        for r in binned_quantiles(df, "v", ["g"], width=8, pcts=(50, 90, 99)).collect()
    }
    by_g: dict[str, list[int]] = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vals in by_g.items():
        vals.sort()
        n = len(vals)
        assert out[g]["n_rows"] == n
        assert out[g]["n_bins"] == len({v // 8 for v in vals})
        for p in (50, 90, 99):
            rank = -(-(p * n) // 100)  # ceil(p*n/100)
            x = vals[rank - 1]
            est = out[g][f"p{p}_hi"]
            assert x // 8 == est // 8 - 1, (g, p, x, est)


def test_binned_quantiles_ignore_nulls(spark):
    """NULL values are excluded before bucketing (round-8 ADVICE): a
    NULL bin would inflate ``total`` without ever being selectable as
    an estimate (upward-biased quantiles), and Spark/DuckDB disagree on
    NULL ordering in the cumulative window, breaking the
    engine-portable readback. Quantiles over a nullable column must
    equal quantiles over the same column with NULLs dropped."""
    import random

    from insect_observation_data_pipeline_spark.functions.approx import (
        binned_quantiles,
    )

    rng = random.Random(11)
    rows = [
        (f"g{i % 2}", rng.randrange(0, 200) if i % 5 else None)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    with_nulls = binned_quantiles(df, "v", ["g"], width=8, pcts=(50, 90))
    dropped = binned_quantiles(
        df.where(F.col("v").isNotNull()), "v", ["g"], width=8, pcts=(50, 90)
    )
    assert sorted(map(tuple, with_nulls.collect())) == sorted(
        map(tuple, dropped.collect())
    )
    # n_rows counts only non-null values
    n_nonnull = sum(1 for _, v in rows if v is not None)
    assert sum(r["n_rows"] for r in with_nulls.collect()) == n_nonnull


def test_binned_quantiles_merge(spark):
    """The sketch state merges across shards by cellwise cnt addition:
    summing two halves' histograms and reading back equals the sketch
    of the full input — the property that lets a 100 TB pipeline keep
    per-epoch histograms and combine them without re-scanning."""
    import random

    from insect_observation_data_pipeline_spark.functions.approx import (
        binned_histogram,
        binned_quantiles,
        histogram_quantiles_readback,
    )

    rng = random.Random(7)
    rows = [(f"g{i % 2}", rng.randrange(0, 300)) for i in range(400)]
    df_a = spark.createDataFrame(rows[:150], "g string, v long")
    df_b = spark.createDataFrame(rows[150:], "g string, v long")
    df_full = spark.createDataFrame(rows, "g string, v long")

    merged_hist = (
        binned_histogram(df_a, "v", ["g"], width=8)
        .unionByName(binned_histogram(df_b, "v", ["g"], width=8))
        .groupBy("g", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    merged = histogram_quantiles_readback(
        merged_hist, ["g"], width=8, pcts=(50, 90, 99)
    )
    direct = binned_quantiles(df_full, "v", ["g"], width=8, pcts=(50, 90, 99))
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_path_trigrams_hand_corpus(spark, tmp_path):
    """e9 on a hand corpus: trigrams counted within (user, day) only —
    the day boundary cuts phantom paths, multiple users' identical
    paths accumulate, tie-break is (count desc, path asc)."""
    from insect_observation_data_pipeline_spark.queries.llm_testdata import (
        e9_path_trigrams,
    )

    rows = [
        # user 7, day 1: view click purchase view -> 2 trigrams
        (1, "2024-01-01 10:00:00", 7, "view"),
        (2, "2024-01-01 10:05:00", 7, "click"),
        (3, "2024-01-01 10:10:00", 7, "purchase"),
        (4, "2024-01-01 10:15:00", 7, "view"),
        # user 7, day 2: only two events -> no trigram
        (5, "2024-01-02 09:00:00", 7, "click"),
        (6, "2024-01-02 09:01:00", 7, "signup"),
        # user 8, one day: view click purchase -> 1 trigram
        (7, "2024-01-03 20:00:00", 8, "view"),
        (8, "2024-01-03 20:30:00", 8, "click"),
        (9, "2024-01-03 23:59:00", 8, "purchase"),
        # user 8 next day 00:01 -> must NOT extend the path
        (10, "2024-01-04 00:01:00", 8, "view"),
    ]
    df = spark.createDataFrame(
        [(i, ts, u, et, 1.0, "{}") for i, ts, u, et in rows],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    sf = str(tmp_path / "paths")
    df.write.parquet(f"{sf}/events.parquet")

    got = [(r["path"], r["n_paths"]) for r in e9_path_trigrams(spark, sf).collect()]
    assert got == [
        ("view>click>purchase", 2),
        ("click>purchase>view", 1),
    ]


def test_chunk_documents_drops_subset_trailing_chunk(spark, tmp_path):
    """x20 (round-14 review): a trailing start whose 50-token window
    adds no new tokens (len % 40 in 1..10, len > 50) is a strict subset
    of the previous chunk and must be dropped; a start that reaches one
    token further survives. Short docs still get exactly one chunk."""
    from insect_observation_data_pipeline_spark.queries.llm_testdata import (
        x20_chunk_documents,
    )

    def doc(did, n):
        return (did, " ".join(f"w{i}" for i in range(1, n + 1)))

    df = spark.createDataFrame(
        [doc(1, 90), doc(2, 91), doc(3, 50), doc(4, 10)],
        "doc_id long, text string",
    )
    sf = str(tmp_path / "chunks")
    df.write.parquet(f"{sf}/documents.parquet")

    rows = x20_chunk_documents(spark, sf).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # len 90: start 81 covers 81-90 c 41-90 -> dropped (2 chunks)
    assert sorted(r["chunk_idx"] for r in by_doc[1]) == [0, 1]
    # len 91: start 81 adds token 91 -> kept (3 chunks, last is 11 tokens)
    assert sorted(r["chunk_idx"] for r in by_doc[2]) == [0, 1, 2]
    assert {r["chunk_idx"]: r["n_chunk_tokens"] for r in by_doc[2]}[2] == 11
    # len 50: start 41 covers 41-50 c 1-50 -> dropped (1 full chunk)
    assert [(r["chunk_idx"], r["n_chunk_tokens"]) for r in by_doc[3]] == [(0, 50)]
    # len 10 (< size): exactly one chunk of 10
    assert [(r["chunk_idx"], r["n_chunk_tokens"]) for r in by_doc[4]] == [(0, 10)]


def test_session_census_unions_components(spark):
    """e25 = e2 rows (grain per_user, NULL interval) + e5 rows (grain
    per_session, NULL n_sessions), both component functions verbatim."""
    from insect_observation_data_pipeline_spark.queries.llm_testdata import (
        e2_sessionization,
        e5_session_window_stats,
        e25_session_census,
    )

    sf = "/root/testdata/sf0.001"
    census = e25_session_census(spark, sf).collect()
    n_e2 = e2_sessionization(spark, sf).count()
    n_e5 = e5_session_window_stats(spark, sf).count()
    per_user = [r for r in census if r["grain"] == "per_user"]
    per_session = [r for r in census if r["grain"] == "per_session"]
    assert len(per_user) == n_e2 and len(per_session) == n_e5
    assert len(census) == n_e2 + n_e5
    assert all(
        r["session_start"] is None and r["n_sessions"] is not None
        for r in per_user
    )
    assert all(
        r["n_sessions"] is None and r["session_start"] is not None
        for r in per_session
    )


def test_unicode_census_hand_corpus(spark):
    """x49's kernel on text the sf corpus doesn't have: a decomposed
    combining sequence (NFC would compose it), an uppercase doc
    (casefold would change it), CJK (non-ASCII, bytes = 3x chars), and
    a NULL (counted in n_docs, in no change flag)."""
    from insect_observation_data_pipeline_spark.llm.textstats import unicode_census

    decomposed = "école"      # e + COMBINING ACUTE -> NFC composes
    composed = "école"          # already NFC
    rows = [
        (1, decomposed, "fr"),
        (2, composed, "fr"),
        (3, "MIXED Case", "en"),
        (4, "中文文本", "zh"),   # 4 CJK chars, 12 bytes
        (5, None, "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r["lang"]: r for r in unicode_census(docs).collect()}

    assert got["fr"]["n_docs"] == 2
    assert got["fr"]["n_nfc_changed"] == 1          # only the decomposed one
    assert got["fr"]["n_casefold_changed"] == 0
    assert got["fr"]["n_nonascii"] == 2             # both carry é
    assert got["fr"]["sum_chars"] == 6 + 5          # decomposed counts the mark
    assert got["fr"]["sum_bytes"] == 7 + 6

    assert got["en"]["n_docs"] == 2                  # NULL row counted
    assert got["en"]["n_nfc_changed"] == 0
    assert got["en"]["n_casefold_changed"] == 1
    assert got["en"]["n_nonascii"] == 0
    assert got["en"]["sum_chars"] == 10              # NULL adds nothing

    assert got["zh"]["sum_chars"] == 4
    assert got["zh"]["sum_bytes"] == 12
    assert got["zh"]["n_nonascii"] == 1


def test_unicode_census_matches_duckdb_nfc(spark):
    """Two independent UAX#15 implementations must agree: the census
    over a mixed hand corpus equals the same SQL over DuckDB's
    nfc_normalize — including on decomposed Hangul and a singleton
    (Angstrom sign) that NFC rewrites."""
    import duckdb

    from insect_observation_data_pipeline_spark.llm.textstats import unicode_census

    rows = [
        (1, "gärten", "de"),        # umlaut decomposed
        (2, "Ångstrom unit", "sv"),  # U+212B ANGSTROM SIGN -> U+00C5
        (3, "각 text", "ko"),  # decomposed Hangul jamo
        (4, "plain ascii", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = sorted(map(tuple, unicode_census(docs).collect()))

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR, lang VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
    want = con.execute("""
        SELECT lang, CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(CASE WHEN nfc_normalize(text) <> text THEN 1 END), 0) AS BIGINT),
               CAST(COALESCE(SUM(CASE WHEN lower(text) <> text THEN 1 END), 0) AS BIGINT),
               CAST(COALESCE(SUM(CASE WHEN strlen(text) <> length(text) THEN 1 END), 0) AS BIGINT),
               CAST(COALESCE(SUM(length(text)), 0) AS BIGINT),
               CAST(COALESCE(SUM(strlen(text)), 0) AS BIGINT)
        FROM documents GROUP BY lang ORDER BY lang
    """).fetchall()
    assert got == sorted(map(tuple, want))


def test_langid_confusion_hand_corpus(spark):
    """x50 on a hand corpus: per (label, prediction) doc counts, with
    the und bucket for marker-free text and the en>de>fr>es tie order."""
    from insect_observation_data_pipeline_spark.llm.textstats import langid_confusion

    rows = [
        (1, "the cat and the dog", "en"),     # en markers
        (2, "und der hund", "de"),            # de markers
        (3, "xyzzy plugh", "en"),             # no markers -> und
        (4, "the und", "en"),                 # 1 en + 1 de -> tie -> en
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {(r["lang"], r["pred_lang"]): r["n_docs"] for r in langid_confusion(docs).collect()}
    assert got == {("en", "en"): 2, ("de", "de"): 1, ("en", "und"): 1}


def test_langid_confusion_agrees_with_x3_rollup(spark):
    """x50's exemption contract (round 11): the confusion matrix must
    equal rotating x3_text_quality's own (lang, pred_lang) rollup —
    x3's driver row then re-verifies the lang_id expression x50
    aggregates, every time x3 rotates."""
    from insect_observation_data_pipeline_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    got = {
        (r["lang"], r["pred_lang"]): r["n_docs"]
        for r in QUERIES["x50_langid_confusion"](spark, sf).collect()
    }
    want = {
        (r["lang"], r["pred_lang"]): r["n"]
        for r in QUERIES["x3_text_quality"](spark, sf)
        .groupBy("lang", "pred_lang").count().withColumnRenamed("count", "n")
        .collect()
    }
    assert got == want


def test_unicode_census_plan_is_one_scan_mapinpandas(spark):
    """x49 must plan as ONE documents scan through a single MapInPandas
    boundary into a partial-aggregated groupBy — no row-at-a-time
    Python UDF, no extra exchange beyond the tiny-domain agg."""
    from insect_observation_data_pipeline_spark.plans.inspect import (
        node_classes,
        physical_plan,
        plan_flags,
    )
    from insect_observation_data_pipeline_spark.queries import QUERIES

    df = QUERIES["x49_unicode_census"](spark, "/root/testdata/sf0.001")
    assert node_classes(physical_plan(df))["MapInPandasExec"] == 1
    flags = plan_flags(df)
    assert not flags["python_udf"]
    assert not flags["cartesian_product"]


def test_avi_roundtrip_and_odd_stride():
    """avi_encode_frames -> avi_decode_frames is lossless, including a
    width whose 3-byte rows need DIB 4-byte stride padding (w=3 ->
    stride 12), bottom-up row order and BGR channel order undone."""
    import numpy as np

    from insect_observation_data_pipeline_spark.llm import multimodal

    rng = np.random.default_rng(7)
    for shape in ((5, 4, 4, 3), (3, 2, 3, 3), (1, 1, 1, 3)):
        frames = rng.integers(0, 256, size=shape, dtype=np.uint8)
        payload = multimodal.avi_encode_frames(frames, fps=10)
        back = multimodal.avi_decode_frames(payload)
        assert back.shape == frames.shape
        assert (back == frames).all(), shape


def test_avi_feature_decode_luma(spark):
    """extract_features(decoder='video'): header dims/frame count plus
    exact-integer BT.601 luma peak/RMS over every pixel, verified
    against a from-scratch numpy computation; a compressed fourcc
    keeps header features with null amplitudes (the WAV precedent)."""
    import math

    import numpy as np

    from insect_observation_data_pipeline_spark.llm import multimodal

    rng = np.random.default_rng(11)
    frames = rng.integers(0, 256, size=(4, 3, 5, 3), dtype=np.uint8)
    payload = multimodal.avi_encode_frames(frames, fps=25)

    # header-only twin: corrupt the compression field to a fake fourcc
    compressed = bytearray(payload)
    strf_at = payload.index(b"strf")
    compressed[strf_at + 8 + 16 : strf_at + 8 + 20] = b"MJPG"

    df = spark.createDataFrame(
        [("ok", bytearray(payload)), ("mjpg", compressed)],
        "media_id string, payload binary",
    )
    out = {
        r["media_id"]: r
        for r in multimodal.extract_features(df, decoder="video").collect()
    }
    luma = (
        299 * frames[..., 0].astype("int64")
        + 587 * frames[..., 1].astype("int64")
        + 114 * frames[..., 2].astype("int64")
    ) // 1000
    ok = out["ok"]
    assert (ok["width"], ok["height"], ok["n_frames"]) == (5, 3, 4)
    assert ok["feature_kind"] == "avi"
    assert ok["peak_amp"] == int(luma.max())
    assert ok["rms_amp"] == math.isqrt(int((luma**2).sum()) // luma.size)
    mj = out["mjpg"]
    assert (mj["width"], mj["height"], mj["n_frames"]) == (5, 3, 4)
    assert mj["peak_amp"] is None and mj["rms_amp"] is None


def test_sample_frames_real_avi(spark):
    """sample_frames(decoder='video') emits every nth REAL frame as a
    standalone PNG whose pixels equal the source frames exactly."""
    import numpy as np

    from insect_observation_data_pipeline_spark.llm import multimodal

    rng = np.random.default_rng(3)
    frames = rng.integers(0, 256, size=(7, 4, 3, 3), dtype=np.uint8)
    payload = multimodal.avi_encode_frames(frames, fps=5)
    df = spark.createDataFrame(
        [("v", bytearray(payload), 7)],
        "media_id string, payload binary, n_frames int",
    )
    rows = multimodal.sample_frames(
        df, every_nth=3, max_frames=2, decoder="video"
    ).collect()
    got = {r["frame_idx"]: bytes(r["payload"]) for r in rows}
    assert sorted(got) == [0, 3]
    for idx, png in got.items():
        px = multimodal.png_decode_pixels(png)
        assert (px == frames[idx]).all(), idx


def test_mixture_plan_hand_corpus(spark):
    """x51 semantics on a skewed two-source corpus: sqrt flattening
    gives the small source a larger-than-natural share; epochs > 1 on
    the tail (up-sampling) and < 1 on the head; integer weights are
    exact isqrt; planned tokens sum to <= budget."""
    from insect_observation_data_pipeline_spark.llm.curation import mixture_plan

    rows = (
        # head: 90 docs x 100 tokens = 9000 tokens
        [(i, " ".join(["tok"] * 100), "head") for i in range(90)]
        # tail: 10 docs x 10 tokens = 100 tokens
        + [(100 + i, " ".join(["tok"] * 10), "tail") for i in range(10)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["source"]: r for r in mixture_plan(docs, budget_tokens=9_100).collect()}

    import math

    assert got["head"]["n_tokens"] == 9000 and got["tail"]["n_tokens"] == 100
    assert got["head"]["weight"] == math.isqrt(9000)  # 94
    assert got["tail"]["weight"] == math.isqrt(100)   # 10
    wsum = got["head"]["weight"] + got["tail"]["weight"]
    assert got["tail"]["share_ppm"] == (1_000_000 * 10) // wsum
    # natural tail share is ~1.1%; flattened it is ~9.6%
    assert got["tail"]["share_ppm"] > 90_000
    assert got["head"]["planned_tokens"] == (9_100 * 94) // wsum
    assert got["tail"]["epochs"] > 1.0 < got["head"]["epochs"] + 1  # tail up-sampled
    assert got["head"]["epochs"] < 1.0
    assert got["head"]["planned_tokens"] + got["tail"]["planned_tokens"] <= 9_100


def test_g711_decode_spec_values_and_roundtrip(spark):
    """G.711 expansion pinned to published table values (mu-law 0x00 ->
    -32124, 0x80 -> +32124, 0xFF/0x7F -> 0; a-law 0x55 -> -8, 0xD5 ->
    +8, 0x2A -> -32256, 0xAA -> +32256), byte-level round trip
    (encode(decode(byte)) == byte for every byte up to mu-law's dual
    zero), and the full WAV path: wav_encode_g711 -> wav_decode_samples
    reproduces each representable level exactly, and extract_features
    computes exact peak/RMS on both laws — in classic containers (the
    extensible GUID resolution is tag-generic and already pinned)."""
    import math

    import numpy as np

    from insect_observation_data_pipeline_spark.llm import multimodal

    ulaw = multimodal.g711_decode_table("ulaw")
    alaw = multimodal.g711_decode_table("alaw")
    assert ulaw[0x00] == -32124 and ulaw[0x80] == 32124
    assert ulaw[0xFF] == 0 and ulaw[0x7F] == 0
    assert alaw[0x55] == -8 and alaw[0xD5] == 8
    assert alaw[0x2A] == -32256 and alaw[0xAA] == 32256

    # byte-level inverse: every byte re-encodes to itself (mu-law 0x7F
    # and 0xFF both decode to 0 — one canonical byte wins, value-exact)
    for law, table in (("alaw", alaw), ("ulaw", ulaw)):
        re = multimodal._g711_encode_bytes(table.astype(np.int32), law)
        redec = table[re]
        assert (redec == table).all(), law

    # WAV round trip per law: stereo ramp hitting exact levels
    for law in ("alaw", "ulaw"):
        table = alaw if law == "alaw" else ulaw
        lv = np.sort(np.unique(table.astype(np.int32)))
        frames = np.stack([lv[:200], lv[-200:]], axis=1)  # (200, 2)
        payload = multimodal.wav_encode_g711(frames, 8000, law=law)
        back = multimodal.wav_decode_samples(payload)
        assert back.shape == frames.shape
        assert (back == frames).all(), law

        df = spark.createDataFrame(
            [(law, bytearray(payload))], "media_id string, payload binary"
        )
        feats = multimodal.extract_features(df, decoder="audio").collect()[0]
        assert feats["feature_kind"] == "wav"
        assert feats["sample_rate"] == 8000 and feats["n_channels"] == 2
        assert feats["n_frames"] == 200
        assert feats["peak_amp"] == int(np.abs(frames).max())
        sq = int((frames.astype("int64") ** 2).sum())
        assert feats["rms_amp"] == math.isqrt(sq // frames.size)


def test_wav_ms_adpcm_decode_reference_and_roundtrip(spark):
    """MS ADPCM (format tag 2): (1) the block decode agrees
    sample-for-sample with an independent scalar reference written
    straight from the public WAVE spec (predictor = (s1*c1 + s2*c2) >>
    8 + signed_code * delta, delta = max(16, ADAPT[code]*delta >> 8),
    high nibble first, stereo alternating per nibble); (2) the
    encode->decode reconstruction error on a smooth waveform stays
    within a few quantizer steps; (3) stereo channels survive the
    nibble interleave unswapped."""
    import struct

    import numpy as np

    t = np.arange(1200)
    mono = (5000 * np.sin(t / 9.0)).astype(np.int16)[:, None]
    wav = multimodal.wav_encode_ms_adpcm(mono, 8000)
    dec = multimodal.wav_decode_samples(wav)

    fmt, data = multimodal._wav_chunks(wav)
    assert fmt[0] == 2 and fmt[5] == 4
    block_align = fmt[4]
    coefs = multimodal._MS_COEFS
    adapt = multimodal._MS_ADAPT
    ref = []
    for base in range(0, len(data) // block_align * block_align, block_align):
        block = data[base : base + block_align]
        pred_i = block[0]
        delta = struct.unpack_from("<h", block, 1)[0]
        s1 = struct.unpack_from("<h", block, 3)[0]
        s2 = struct.unpack_from("<h", block, 5)[0]
        ref.append(s2)
        ref.append(s1)
        c1, c2 = coefs[pred_i]
        for byte in block[7:]:
            for code in (byte >> 4, byte & 0xF):
                pred = (s1 * c1 + s2 * c2) >> 8
                signed = code - 16 if code >= 8 else code
                pred = max(-32768, min(32767, pred + signed * delta))
                s2, s1 = s1, pred
                delta = max(16, (adapt[code] * delta) >> 8)
                ref.append(pred)
    assert dec[:, 0].tolist() == ref[: dec.shape[0]]

    err = np.abs(dec[: len(mono), 0].astype(np.int64) - mono[:, 0])
    assert int(err.max()) < 512, int(err.max())
    assert np.corrcoef(dec[: len(mono), 0], mono[:, 0])[0, 1] > 0.999

    left = (5000 * np.sin(t / 9.0)).astype(np.int16)
    right = (800 * np.sin(t / 31.0) - 6000).astype(np.int16)
    st = np.stack([left, right], axis=1)
    wav2 = multimodal.wav_encode_ms_adpcm(st, 8000)
    dec2 = multimodal.wav_decode_samples(wav2)
    assert dec2.shape[1] == 2
    for c, src in ((0, left), (1, right)):
        e = np.abs(dec2[: len(src), c].astype(np.int64) - src)
        assert int(e.max()) < 512, (c, int(e.max()))

    feats = multimodal._decode_audio_wav(wav2)
    assert feats["feature_kind"] == "wav"
    assert feats["n_frames"] == dec2.shape[0]
    assert feats["peak_amp"] == int(np.abs(dec2).max())


def test_png_adam7_interlaced_roundtrip():
    """Adam7 decode: encode(interlace=True) -> decode equals the source
    for all four color types and for sizes where some passes are empty
    (w or h < 8, 1x1, and a non-multiple-of-8 size); interlaced and
    sequential encodings of the same pixels decode identically."""
    import numpy as np

    from insect_observation_data_pipeline_spark.llm import multimodal

    rng = np.random.default_rng(5)
    for ch in (1, 2, 3, 4):
        for h, w in ((16, 16), (9, 13), (3, 5), (1, 1), (8, 2)):
            px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
            inter = multimodal.png_encode_pixels(px, interlace=True)
            assert inter[28] == 1
            got = multimodal.png_decode_pixels(inter)
            assert got.shape == px.shape, (ch, h, w)
            assert (got == px).all(), (ch, h, w)
            seq = multimodal.png_decode_pixels(multimodal.png_encode_pixels(px))
            assert (got == seq).all(), (ch, h, w)


def test_png_paletted_decode_roundtrip():
    """Indexed-color PNG (type 3): PLTE expansion reproduces the exact
    RGB per index; a short tRNS upgrades output to RGBA with
    remaining entries opaque; the resize path consumes paletted
    payloads through the same decoder."""
    import numpy as np

    from insect_observation_data_pipeline_spark.llm import multimodal

    rng = np.random.default_rng(13)
    palette = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(11, 7), dtype=np.uint8)

    rgb = multimodal.png_decode_pixels(
        multimodal.png_encode_paletted(idx, palette)
    )
    assert rgb.shape == (11, 7, 3)
    assert (rgb == palette[idx]).all()

    rgba = multimodal.png_decode_pixels(
        multimodal.png_encode_paletted(idx, palette, trns=[0, 128])
    )
    assert rgba.shape == (11, 7, 4)
    assert (rgba[:, :, :3] == palette[idx]).all()
    want_a = np.full(16, 255, dtype=np.uint8)
    want_a[0], want_a[1] = 0, 128
    assert (rgba[:, :, 3] == want_a[idx]).all()


def test_png_16bit_roundtrip():
    """16-bit PNG (big-endian samples per spec): encode -> decode is
    lossless for gray and RGB, sequential and Adam7, including values
    above 255 (byte-order mistakes collapse them); the byte-level
    filters with bpp = ch * 2 reconstruct exactly."""
    import numpy as np

    from insect_observation_data_pipeline_spark.llm import multimodal

    rng = np.random.default_rng(17)
    for ch in (1, 3):
        for h, w in ((12, 10), (5, 3)):
            shape = (h, w, ch) if ch > 1 else (h, w)
            px = rng.integers(0, 65536, size=shape, dtype=np.uint16)
            for inter in (False, True):
                payload = multimodal.png_encode_pixels(px, interlace=inter)
                got = multimodal.png_decode_pixels(payload)
                assert got.dtype == np.uint16, (ch, inter)
                assert (got.reshape(px.shape) == px).all(), (ch, h, w, inter)
    # 8-bit inputs keep producing depth-8 files (dtype-driven switch)
    px8 = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
    assert multimodal.png_decode_pixels(
        multimodal.png_encode_pixels(px8)
    ).dtype == np.uint8


def test_extract_features_auto_sniffs_mixed_media(spark):
    """decoder='auto' routes a MIXED binary column by container magic:
    one PNG, one WAV, one AVI, and one unrecognized blob in the same
    DataFrame each get their own real decoder's features (the
    unrecognized one degrades to metadata-only fake features instead
    of failing the Arrow batch)."""
    import numpy as np

    from insect_observation_data_pipeline_spark.llm import multimodal

    rng = np.random.default_rng(23)
    png = multimodal.png_encode_pixels(
        rng.integers(0, 256, size=(6, 4, 3), dtype=np.uint8)
    )
    wav = multimodal.wav_encode_pcm16(
        (1000 * np.sin(np.arange(50) / 3.0)).astype(np.int16)[:, None], 8000
    )
    avi = multimodal.avi_encode_frames(
        rng.integers(0, 256, size=(3, 2, 2, 3), dtype=np.uint8), fps=5
    )
    df = spark.createDataFrame(
        [
            ("p", bytearray(png)),
            ("w", bytearray(wav)),
            ("v", bytearray(avi)),
            ("junk", bytearray(b"not a container")),
        ],
        "media_id string, payload binary",
    )
    out = {
        r["media_id"]: r
        for r in multimodal.extract_features(df, decoder="auto").collect()
    }
    assert out["p"]["feature_kind"] == "png" and out["p"]["width"] == 4
    assert out["w"]["feature_kind"] == "wav" and out["w"]["sample_rate"] == 8000
    assert out["v"]["feature_kind"] == "avi" and out["v"]["n_frames"] == 3
    assert out["junk"]["feature_kind"] == "fake"
    assert out["junk"]["n_bytes"] == 15


def test_media_poison_rows_quarantine_not_crash(spark):
    """Round-9 review fixes, pinned: (a) decoder='auto' degrades a
    recognized-magic-but-truncated payload to feature_kind='corrupt'
    instead of failing the batch; (b) a truncated AVI raises ValueError
    (not struct.error) so the quarantine path catches it; (c)
    sample_frames(decoder='video') skips an undecodable (compressed
    fourcc) row and still emits the healthy rows' frames; (d) a
    top-down DIB (negative biHeight) decodes without the vertical
    flip."""
    import struct

    import numpy as np
    import pytest

    from insect_observation_data_pipeline_spark.llm import multimodal

    rng = np.random.default_rng(29)
    frames = rng.integers(0, 256, size=(4, 3, 2, 3), dtype=np.uint8)
    good = multimodal.avi_encode_frames(frames, fps=5)

    # (b) truncated headers raise ValueError per the _avi_walk contract
    with pytest.raises(ValueError):
        multimodal.avi_decode_frames(good[:40])

    # (a) auto-sniff: truncated PNG magic + truncated AVI -> 'corrupt'
    df = spark.createDataFrame(
        [
            ("png_trunc", bytearray(b"\x89PNG\r\n\x1a\nxx")),
            ("avi_trunc", bytearray(good[:40])),
            ("ok", bytearray(good)),
        ],
        "media_id string, payload binary",
    )
    out = {
        r["media_id"]: r
        for r in multimodal.extract_features(df, decoder="auto").collect()
    }
    assert out["png_trunc"]["feature_kind"] == "corrupt"
    assert out["avi_trunc"]["feature_kind"] == "corrupt"
    assert out["ok"]["feature_kind"] == "avi"

    # (c) poison video row drops, healthy row still yields frames
    mjpg = bytearray(good)
    at = good.index(b"strf")
    mjpg[at + 8 + 16 : at + 8 + 20] = b"MJPG"
    vdf = spark.createDataFrame(
        [("good", bytearray(good), 4), ("bad", mjpg, 4)],
        "media_id string, payload binary, n_frames int",
    )
    rows = multimodal.sample_frames(
        vdf, every_nth=2, max_frames=2, decoder="video"
    ).collect()
    assert {r["media_id"] for r in rows} == {"good"}
    assert sorted(r["frame_idx"] for r in rows) == [0, 2]

    # (d) top-down DIB: flip the strf height sign — the stored rows are
    # unchanged (bottom-up), so a correct decoder now returns them
    # verbatim = the vertical mirror of the original frames
    topdown = bytearray(good)
    h = frames.shape[1]
    struct.pack_into("<i", topdown, at + 8 + 8, -h)
    dec = multimodal.avi_decode_frames(bytes(topdown))
    assert (dec == frames[:, ::-1]).all()


def test_truncated_wav_fmt_chunk_quarantines_not_struct_error(spark):
    """Round-9 ADVICE, pinned: a 'fmt ' chunk DECLARING csize>=16 whose
    surviving body is shorter used to raise struct.error from the
    header unpack — not a ValueError subclass, so it escaped the
    'corrupt' quarantine and killed the whole mapInPandas stage. The
    parse must length-check and raise ValueError, and decoder='auto'
    must degrade the row to feature_kind='corrupt'."""
    import struct

    import pytest

    from insect_observation_data_pipeline_spark.llm import multimodal

    # declared fmt csize=16, only 3 body bytes survive
    trunc = (
        b"RIFF" + struct.pack("<I", 30) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + b"\x01\x00\x02"
    )
    with pytest.raises(ValueError):
        multimodal._wav_chunks(trunc)
    with pytest.raises(ValueError):
        multimodal.wav_decode_samples(trunc)

    # extensible header declaring csize=40 with a short body must not
    # unpack past the surviving bytes either (falls through to the
    # missing-data ValueError, still inside the quarantine contract)
    trunc_ext = (
        b"RIFF" + struct.pack("<I", 40) + b"WAVE"
        + b"fmt " + struct.pack("<I", 40)
        + struct.pack("<HHIIHH", 0xFFFE, 2, 8000, 32000, 4, 16)
    )
    with pytest.raises(ValueError):
        multimodal._wav_chunks(trunc_ext)

    df = spark.createDataFrame(
        [("wav_trunc", bytearray(trunc)),
         ("wav_trunc_ext", bytearray(trunc_ext))],
        "media_id string, payload binary",
    )
    out = {
        r["media_id"]: r["feature_kind"]
        for r in multimodal.extract_features(df, decoder="auto").collect()
    }
    assert out == {"wav_trunc": "corrupt", "wav_trunc_ext": "corrupt"}


def test_write_zordered_rejects_overwide_interleave(spark, tmp_path):
    """bits * n_dims past the 63-bit z budget must fail loudly: Java
    shift amounts wrap mod 64 and would silently fold dimensions."""
    import pytest

    from insect_observation_data_pipeline_spark.sources.parquet import write_zordered

    df = spark.range(10).selectExpr(*[f"id as c{i}" for i in range(9)])
    with pytest.raises(ValueError, match="63-bit"):
        write_zordered(
            df, str(tmp_path / "z"), zorder_by=tuple(f"c{i}" for i in range(9)),
            bits=8,
        )


def test_pack_sequences_bucketed_keeps_null_keys(spark):
    """Round-12 review: the distributed prefix-sum path must keep rows
    whose stratum or order key is NULL (floor(NULL/width) = NULL
    bucket) — a plain equi-join with the offsets frame silently dropped
    them while the naive window path kept them (NULLS FIRST), breaking
    the documented path equivalence with data loss."""
    from insect_observation_data_pipeline_spark.llm.curation import pack_sequences

    df = spark.createDataFrame(
        [(None, "en", 60), (2, "en", 50), (3, None, 10), (4, "de", 200)],
        "doc_id long, lang string, n_tokens int",
    )

    def snap(out):
        return {
            (r["doc_id"], r["lang"]): (r["pack_offset"], r["pack_id"])
            for r in out.collect()
        }

    naive = snap(pack_sequences(df, token_col="n_tokens", budget=100,
                                strata_col="lang"))
    bucketed = snap(pack_sequences(df, token_col="n_tokens", budget=100,
                                   strata_col="lang",
                                   range_bucket_width=100))
    assert len(naive) == 4          # nothing dropped
    assert bucketed == naive        # identical output, NULLs included
    # NULL doc_id packs FIRST in its stratum (NULLS FIRST), so doc 2
    # starts at the NULL row's 60 tokens
    assert naive[(2, "en")] == (60, 0)
    # NULL stratum is its own partition, packing from offset 0
    assert naive[(3, None)] == (0, 0)


def test_temperature_mix_keeps_null_stratum(spark):
    """Round-12 review: a NULL stratum got a rate row from the counts
    aggregate but the plain equi-join dropped every one of its rows;
    the null-safe join keeps them at their own sqrt-scaled rate
    (consistent with stratified_hash_sample's NULL handling)."""
    from insect_observation_data_pipeline_spark.llm import curation

    rows = [(i, "en") for i in range(100)] + [
        (1000 + i, None) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = curation.temperature_mix(df, strata_col="lang", key_col="doc_id")
    rates = {
        r["lang"]: r["rate_pct"]
        for r in out.select("lang", "rate_pct").distinct().collect()
    }
    assert rates["en"] == 100
    # the NULL stratum's rate row survives: round(100*sqrt(4/100)) = 20
    assert rates[None] == 20
    # and its rows are eligible (the md5 bucket filter applies normally:
    # with rate 20 some of 4 hash buckets may miss, but the JOIN must
    # not be the thing that excludes them — verify against the filter)
    from insect_observation_data_pipeline_spark.llm.curation import hash_bucket
    expected = {
        r["doc_id"]
        for r in df.filter(F.col("lang").isNull())
        .filter(hash_bucket(F.col("doc_id"), 100) < 20)
        .collect()
    }
    got = {r["doc_id"] for r in out.filter(F.col("lang").isNull()).collect()}
    assert got == expected


def test_lsh_topk_rejects_dims_mismatch(spark):
    """Round-12 review: a dims/embedding-length mismatch used to
    NULL-pad every dot product, send every vector to bucket '00..0',
    and silently degenerate the bucket equi-join into a cross join.
    lsh_bucket now raises instead."""
    import pytest

    from insect_observation_data_pipeline_spark.llm import similarity

    vecs = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [0.5, 0.1, 0.9])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="lsh_bucket"):
        similarity.lsh_topk(vecs, vecs, k=1, planes=2, dims=64).collect()
    # matching dims: fine (and buckets are not all identical-by-NULL)
    ok = similarity.lsh_topk(vecs, vecs, k=1, planes=2, dims=3)
    assert ok.count() > 0


def test_connected_components_string_ids(spark):
    """Round-12 review: the decimal-sum convergence probe is
    NULL-on-strings, which used to stop propagation after one round
    (None == None) and return non-minimal components for any chain of
    diameter > 2. String ids must converge to the true lexicographic
    min label."""
    edges = spark.createDataFrame(
        [("d", "c"), ("c", "b"), ("b", "a"), ("a", "0a"), ("x", "y")],
        "doc_a string, doc_b string",
    )
    got = {
        r["doc_id"]: r["component_id"]
        for r in dedup.connected_components(edges).collect()
    }
    assert got == {
        "0a": "0a", "a": "0a", "b": "0a", "c": "0a", "d": "0a",
        "x": "x", "y": "x",
    }


def test_band_frame_rejects_non_divisor_bands(spark):
    """Round-12 review: bands that don't divide num_hashes silently
    dropped trailing hashes (changed LSH sensitivity), and
    bands > num_hashes made every band hash md5('') — an all-pairs
    cross product. Both now raise."""
    import pytest

    sigs = dedup.minhash_signatures(
        spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    )
    for bad in (3, 16, 0):
        with pytest.raises(ValueError, match="divisor"):
            dedup.band_frame(sigs, num_hashes=8, bands=bad)


def test_resize_images_quarantines_poison_payload(spark):
    """Round-12 review: one malformed PNG used to raise inside
    mapInPandas and kill the stage; it must instead emit no row while
    every healthy row still resizes (sample_frames' skip doctrine)."""
    import numpy as np

    from insect_observation_data_pipeline_spark.llm import multimodal as mm

    good = mm.png_encode_pixels(
        np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    )
    truncated = good[: len(good) - 10]          # cut inside IDAT/IEND
    not_png = b"definitely not a png"
    df = spark.createDataFrame(
        [("g", bytearray(good)), ("t", bytearray(truncated)),
         ("n", bytearray(not_png))],
        "media_id string, payload binary",
    )
    out = {
        r["media_id"]: (r["width"], r["height"])
        for r in mm.resize_images(
            df, width=2, height=2, decoder="image"
        ).collect()
    }
    assert "g" in out and out["g"] == (2, 2)
    assert "n" not in out
    # the truncated payload either decodes (cut fell in IEND) or is
    # quarantined — it must never kill the job; 'g' always survives
    assert set(out) <= {"g", "t"}


def test_unpersist_intermediates_releases_dedup_caches(spark):
    """Round-12: dedup operators tag their persisted intermediates on
    the result (the graph.py mechanism, generalized) so a long-lived
    ingest loop can release corpus-sized caches surgically instead of
    spark.catalog.clearCache()."""
    from insect_observation_data_pipeline_spark.cache import unpersist_intermediates

    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2} tok{i+3}") for i in range(20)],
        "doc_id long, text string",
    )
    out = dedup.minhash_lsh_dedup(docs, threshold=0.2)
    out.collect()
    frames = getattr(out, "_persisted_intermediates", ())
    assert frames, "result must carry the tagged intermediates"
    # pinned after materialization (assert on the frames' own storage
    # level — session-global cache counts are polluted by other tests'
    # localCheckpoints)
    assert all(
        f.storageLevel.useMemory or f.storageLevel.useDisk for f in frames
    )
    unpersist_intermediates(out, blocking=True)
    assert all(
        not (f.storageLevel.useMemory or f.storageLevel.useDisk)
        for f in frames
    )


def test_text_quality_edge_docs_cross_engine(spark, tmp_path):
    """Round-12 review: three edge shapes every real corpus contains but
    the fixtures mask — (a) a 1-token doc (x19's sequence(1,0) DESCENDS
    in Spark and element_at then threw under ANSI), (b) an empty /
    whitespace-only doc (0/0 raised DIVIDE_BY_ZERO under the driver's
    ANSI default), (c) capitalized marker words ('The' — lang_id
    lowercases but the oracle counted raw tokens, flipping pred_lang).
    Engine and DuckDB oracle must agree on all three."""
    import duckdb

    from insect_observation_data_pipeline_spark.queries.llm_oracle import LLM_ORACLE
    from insect_observation_data_pipeline_spark.queries.llm_testdata import (
        x3_text_quality,
        x19_bigram_topk,
    )

    docs = [
        (1, "The Cat Sat On The Mat And Ate", "en", "s1"),
        (2, "word", "en", "s1"),            # 1 token: no bigram
        (3, "", "en", "s1"),                # empty: NULL ratios, no crash
        (4, "   ", "en", "s1"),             # whitespace-only
        (5, "the cat sat on the mat again and again", "en", "s1"),
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string"
    ).write.parquet(d + "/documents.parquet")

    q = x3_text_quality(spark, d)
    got = {r["doc_id"]: r.asDict() for r in q.collect()}  # must not raise
    assert got[1]["pred_lang"] == "en"      # capitalized 'The' counts
    assert got[3]["avg_token_len"] is None  # NULL, not DIVIDE_BY_ZERO
    assert got[3]["alnum_ratio"] is None

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{d}/documents.parquet/*.parquet'"  # Spark writes a directory
    )
    oracle = {
        r[0]: dict(zip([c[0] for c in con.description], r))
        for r in con.execute(LLM_ORACLE["x3_text_quality"]).fetchall()
    }
    for doc_id, row in got.items():
        for col in ("pred_lang", "n_tokens", "avg_token_len",
                    "stopword_ratio", "alnum_ratio", "quality_score"):
            assert row[col] == oracle[doc_id][col], (doc_id, col, row[col],
                                                     oracle[doc_id][col])

    # x19 on the same corpus: 1-token/empty docs emit nothing, no crash
    bigrams = {r["bigram"] for r in x19_bigram_topk(spark, d).collect()}
    assert "word" not in bigrams and "" not in bigrams
    assert "the cat" in bigrams


def test_bpe_encode_keeps_zero_token_docs(spark):
    """Round-13 review: empty/whitespace/NULL texts tokenize to (0, 0)
    rows instead of silently vanishing from the per-document output."""
    from insect_observation_data_pipeline_spark.llm import bpe

    docs = spark.createDataFrame(
        [(1, "low cost low"), (2, ""), (3, None), (4, "   ")],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: (r["n_bpe_symbols"], r["n_words"])
            for r in bpe.bpe_encode(docs, [("l", "o")]).collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[2] == (0, 0) and rows[3] == (0, 0) and rows[4] == (0, 0)
    assert rows[1][1] == 3 and rows[1][0] > 0


def test_bpe_merges_rejects_zero_rounds(spark):
    """Round-13 review: rounds=0 failed with IndexError after paying the
    corpus scan; now a loud ValueError before any job."""
    import pytest

    from insect_observation_data_pipeline_spark.llm import bpe

    docs = spark.createDataFrame([(1, "a b")], "doc_id int, text string")
    with pytest.raises(ValueError, match="rounds"):
        bpe.bpe_merges(docs, rounds=0)


def test_unicode_census_nonstring_group_and_null_ordering(spark):
    """Round-13 review: (a) group_col may be non-string (the Arrow
    out-schema derives the type); (b) a NULL group orders LAST on both
    engines (DuckDB ASC default), not Spark-default first."""
    from insect_observation_data_pipeline_spark.llm import textstats

    docs = spark.createDataFrame(
        [(1, "plain ascii"), (1, "café"), (2, "x"), (None, "y")],
        "src int, text string",
    )
    out = textstats.unicode_census(docs, group_col="src").collect()
    assert [r["src"] for r in out] == [1, 2, None]
    by = {r["src"]: r for r in out}
    assert by[1]["n_docs"] == 2 and by[1]["n_nonascii"] == 1


def test_fingerprint64_width(spark):
    """Round-13 review: 15 hex chars = 60 bits (the widest md5 prefix a
    signed bigint holds); the old 8-char prefix was 32 bits with
    certain collisions at corpus scale."""
    import hashlib

    from insect_observation_data_pipeline_spark.llm import textstats

    got = (
        spark.createDataFrame([("Some Text  here",)], "text string")
        .select(textstats.fingerprint64(F.col("text")).alias("fp"))
        .collect()[0]["fp"]
    )
    want = int(hashlib.md5(b"some text here").hexdigest()[:15], 16)
    assert got == want
    assert got >= (1 << 32)  # value uses more than the old 32-bit space


# ---------------------------------------------------------------------------
# round-14 review hardening: degenerate inputs must not crash or silently
# change semantics across code paths
# ---------------------------------------------------------------------------


def test_cosine_zero_norm_yields_null_not_crash(spark):
    """ANSI divide guard: a zero-norm embedding gives cosine NULL (never
    DIVIDE_BY_ZERO), so it fails every threshold filter and sorts last
    in desc rankings."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    got = df.crossJoin(
        df.select(
            F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb")
        )
    ).select(
        "vec_id",
        "b_id",
        similarity.cosine(F.col("embedding"), F.col("b_emb")).alias("sim"),
    ).collect()
    sims = {(r["vec_id"], r["b_id"]): r["sim"] for r in got}
    assert sims[(1, 1)] == pytest.approx(1.0)
    assert sims[(1, 2)] is None and sims[(2, 2)] is None
    # end-to-end: brute_force_topk over a corpus containing the zero
    # vector completes; the zero-norm row is DROPPED per-side (n-cost
    # filter, keeping the pair loop's division bare) so it never
    # appears as a neighbor — and a zero-norm query emits no rows
    out = similarity.brute_force_topk(
        df.filter(F.col("vec_id") == 1), df, k=2
    ).collect()
    assert [(r["rank"], r["neighbor_id"], r["cosine_sim"]) for r in out] == [
        (1, 1, 1.0)
    ]
    assert (
        similarity.brute_force_topk(
            df.filter(F.col("vec_id") == 2), df, k=2
        ).count()
        == 0
    )


def test_near_dup_pairs_kernels_agree_on_null_cell_and_zero_norm(spark):
    """Blocking parity: NULL-cell (unassigned) and zero-norm vectors
    never pair, identically for kernel gram/hof, capped or not."""
    v = [0.6, 0.8]
    df = spark.createDataFrame(
        [
            (1, v, None),
            (2, v, None),          # NULL cell pair: must NOT emit
            (3, v, "c1"),
            (4, v, "c1"),          # real pair
            (5, [0.0, 0.0], "c1"),  # zero-norm: must NOT pair
        ],
        "vec_id long, embedding array<double>, label string",
    )
    for kernel in ("gram", "hof"):
        for cap in (None, 2):
            pairs = sorted(
                (r["a_id"], r["b_id"])
                for r in similarity.near_dup_pairs(
                    df, threshold=0.9, kernel=kernel, max_cell_rows=cap
                ).collect()
            )
            assert pairs == [(3, 4)], (kernel, cap, pairs)


def test_exact_groups_null_text_singletons(spark):
    """NULL text matches NOTHING: each missing-text doc is its own
    keeper (the incremental paths' NULL-join semantics), never an
    'exact duplicate' of another missing-text doc."""
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "hello"), (4, "hello")],
        "doc_id long, text string",
    )
    rows = dedup.exact_groups(df).collect()
    by_keeper = {r["keeper_id"]: (r["fp"], r["n_docs"]) for r in rows}
    assert by_keeper[1] == (None, 1) and by_keeper[2] == (None, 1)
    assert by_keeper[3][1] == 2 and by_keeper[3][0] is not None
    assert len(rows) == 3


def test_cluster_representatives_keeps_unscored_members(spark):
    """A member missing from `scored` still counts in n_members, ranks
    after scored members, and an all-unscored cluster keeps min id with
    best_score NULL (the old inner join dropped both)."""
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 2), (11, 2)],
        "doc_id long, component_id long",
    )
    scored = spark.createDataFrame(
        [(1, 0.5), (2, 0.9)], "doc_id long, quality_score double"
    )  # 3 unscored; cluster 2 entirely unscored
    out = {r["component_id"]: r for r in dedup.cluster_representatives(comps, scored).collect()}
    assert out[1]["keep_doc_id"] == 2 and out[1]["n_members"] == 3
    assert out[1]["best_score"] == pytest.approx(0.9)
    assert out[2]["keep_doc_id"] == 10 and out[2]["n_members"] == 2
    assert out[2]["best_score"] is None


def test_mixture_plan_zero_token_source(spark):
    """A source whose docs are all empty text must get NULL epochs (not
    DIVIDE_BY_ZERO under ANSI); an all-empty corpus yields NULL shares."""
    from insect_observation_data_pipeline_spark.llm.curation import mixture_plan

    df = spark.createDataFrame(
        [("a", "x y z"), ("a", "x"), ("b", ""), ("b", "  ")],
        "source string, text string",
    )
    rows = {r["source"]: r for r in mixture_plan(df, budget_tokens=100).collect()}
    assert rows["b"]["n_tokens"] == 0 and rows["b"]["epochs"] is None
    assert rows["a"]["epochs"] is not None and rows["a"]["planned_tokens"] == 100
    empty = spark.createDataFrame([("a", ""), ("b", "")], "source string, text string")
    for r in mixture_plan(empty, budget_tokens=100).collect():
        assert r["share_ppm"] is None and r["epochs"] is None


def test_pack_sequences_rejects_string_order_col_when_bucketed(spark):
    """floor(str/width) buckets NUMERICALLY while the naive window
    orders LEXICOGRAPHICALLY — silent divergence, so the bucketed path
    refuses string order columns."""
    from insect_observation_data_pipeline_spark.llm.curation import pack_sequences

    df = spark.createDataFrame(
        [("99", 10), ("150", 10), ("2000", 10)], "doc_id string, n_tokens int"
    )
    # naive path still fine on strings
    assert pack_sequences(df, token_col="n_tokens", budget=15).count() == 3
    with pytest.raises(ValueError, match="numeric order_col"):
        pack_sequences(
            df, token_col="n_tokens", budget=15, range_bucket_width=100
        )


def test_rrf_fuse_empty_rankings_raises(spark):
    with pytest.raises(ValueError, match="at least one ranking"):
        similarity.rrf_fuse([])
