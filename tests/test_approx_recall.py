"""Recall / error bounds for the approximate operators (the declared
non-oracle queries): MinHash-LSH and SimHash vs exact n-gram Jaccard,
LSH/IVF ANN vs brute force, approx_count_distinct vs exact."""

from __future__ import annotations

import pyspark.sql.functions as F

from labelspark_spark.operators import dedup, similarity
from labelspark_spark.sources import read_table

from .conftest import SF_CORRECT, SF_SMOKE


def _docs(spark):
    return read_table(spark, SF_SMOKE, "documents")


def _emb(spark):
    return read_table(spark, SF_SMOKE, "embeddings")


def test_minhash_lsh_recall_vs_exact(spark):
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(_docs(spark), threshold=0.5).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(_docs(spark), threshold=0.5).collect()
    }
    assert exact, "test needs at least one true near-dup pair"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"MinHash-LSH recall {recall:.2f} < 0.8"
    # verification step guarantees no false positives above threshold
    assert approx <= exact | approx  # sanity; approx pairs are exact-verified
    for r in dedup.minhash_lsh_pairs(_docs(spark), threshold=0.5).collect():
        assert r.jaccard >= 0.5


def test_dedup_pair_schemas_pinned(spark):
    # the signature kernels are mapInArrow passes, whose declared schema
    # sets every output column's nullability: the pair frames must keep
    # the types and nullability of their SQL-aggregate predecessors
    # (hamming non-null, ids as read from the documents table)
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    docs = _docs(spark)
    ids = [StructField("id_a", LongType(), True), StructField("id_b", LongType(), True)]
    assert dedup.simhash_pairs(docs).schema == StructType(
        ids + [StructField("hamming", IntegerType(), False)]
    )
    assert dedup.minhash_lsh_pairs(docs).schema == StructType(
        ids + [StructField("jaccard", DoubleType(), True)]
    )
    assert dedup._simhash_staged(docs, "text", "doc_id").schema == StructType(
        [StructField("_id", LongType(), True), StructField("_h", LongType(), False)]
    )


def test_null_text_rows_never_pair(spark):
    # xxhash64 skips NULL args, so un-filtered null-text rows would all
    # hash to the seed constant and pair with each other at jaccard 1.0;
    # the shingle path must drop them (string-shingle semantics: NULL
    # shingles never join-match)
    docs = spark.createDataFrame(
        [
            (1, None),
            (2, None),
            (3, "the quick brown fox jumps over the lazy dog"),
            (4, "the quick brown fox jumps over the lazy dog today"),
        ],
        "doc_id int, text string",
    )
    for pairs in (
        dedup.minhash_lsh_pairs(docs, threshold=0.3),
        dedup.ngram_jaccard_pairs(docs, threshold=0.3),
        dedup.ngram_jaccard_pairs(docs, threshold=0.3, unit="char"),
    ):
        ids = {x for r in pairs.collect() for x in (r.id_a, r.id_b)}
        assert 1 not in ids and 2 not in ids, "null-text rows paired"
        assert {3, 4} <= ids or ids == set()


def test_minhash_signature_portable(spark):
    """Replay the md5-based minhash in pure Python — signatures must match."""
    import hashlib

    df = _docs(spark).limit(3)
    sh = df.select(
        "doc_id",
        F.array_distinct(
            __import__(
                "labelspark_spark.functions.text", fromlist=["word_shingles"]
            ).word_shingles(F.col("text"), 3)
        ).alias("sh"),
    )
    sig_df = sh.select(
        "doc_id", dedup.minhash_signature(F.col("sh"), num_hashes=8).alias("sig")
    )
    rows = {r.doc_id: (r_sh, r.sig) for r, r_sh in zip(sig_df.collect(), [x.sh for x in sh.collect()])}
    params = dedup._perm_params(8, 42)
    for doc_id, (shingles, sig) in rows.items():
        base = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in shingles]
        expect = [
            min((a * h + b) % dedup.MINHASH_PRIME for h in base) for a, b in params
        ]
        assert list(sig) == expect, f"doc {doc_id} signature mismatch"


def test_simhash_close_for_near_dups(spark):
    """True near-dups (jaccard>=0.8) should sit within small hamming."""
    docs = _docs(spark)
    near = dedup.ngram_jaccard_pairs(docs, threshold=0.8)
    hashed = docs.select(
        F.col("doc_id"), dedup.simhash(F.col("text")).alias("h")
    )
    a = hashed.select(F.col("doc_id").alias("id_a"), F.col("h").alias("ha"))
    b = hashed.select(F.col("doc_id").alias("id_b"), F.col("h").alias("hb"))
    joined = near.join(a, "id_a").join(b, "id_b").select(
        dedup.hamming64(F.col("ha"), F.col("hb")).alias("d")
    )
    dists = [r.d for r in joined.collect()]
    assert dists, "need near-dup pairs"
    assert sum(d <= 8 for d in dists) / len(dists) >= 0.8


def test_lsh_ann_recall(spark):
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.brute_force_topk(emb, queries, k=5)
    approx = similarity.lsh_ann_topk(emb, queries, k=5, num_planes=4, dim=64)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.3, f"LSH ANN recall {recall:.2f} too low even for 4 planes"
    # self-neighbor is always in the same bucket
    assert all((q, q) in a for q in range(10))


def test_ivf_self_neighbor(spark):
    emb = _emb(spark)
    dim = 64
    centroids = (
        emb.groupBy("label")
        .agg(F.array(*[F.avg(F.col("embedding")[i]) for i in range(dim)]).alias("centroid"))
        .select(F.col("label").alias("centroid_id"), "centroid")
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.ivf_topk(emb, queries, centroids, k=5, nprobe=2)
    pairs = {(r.query_id, r.neighbor_id) for r in got.collect()}
    assert all((q, q) in pairs for q in range(5))


def test_approx_count_distinct_error(spark):
    li = read_table(spark, SF_SMOKE, "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("a"),
        F.countDistinct("l_orderkey").alias("e"),
    ).collect()[0]
    assert abs(row.a - row.e) / row.e < 0.05


def test_hll_sketch_error_bound(spark):
    import pyspark.sql.functions as F

    from labelspark_spark.queries import q_hll_distinct
    from labelspark_spark.sources import read_table

    approx = {
        r.event_type: r.approx_users
        for r in q_hll_distinct(spark, SF_SMOKE).collect()
    }
    exact = {
        r.event_type: r.n
        for r in read_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for et, est in approx.items():
        rel_err = abs(est - exact[et]) / max(exact[et], 1)
        assert rel_err < 0.05, f"{et}: est {est} vs exact {exact[et]}"


def test_approx_percentile_error_bound(spark):
    import pyspark.sql.functions as F

    from labelspark_spark.queries import q_percentiles_approx
    from labelspark_spark.sources import read_table

    approx = {r.l_linestatus: r for r in q_percentiles_approx(spark, SF_SMOKE).collect()}
    exact = {
        r.l_linestatus: r
        for r in read_table(spark, SF_SMOKE, "lineitem")
        .groupBy("l_linestatus")
        .agg(
            F.expr("percentile(l_quantity, 0.5)").alias("median"),
            F.expr("percentile(l_quantity, 0.99)").alias("p99"),
        )
        .collect()
    }
    # GK sketch with accuracy 1000: rank error <= n/1000; quantity in
    # [1, 50] so value error for these smooth distributions stays small
    for ls, a in approx.items():
        assert abs(a.median_approx - exact[ls].median) <= 2.0
        assert abs(a.p99_approx - exact[ls].p99) <= 2.0


def test_kmeans_ivf_recall(spark):
    from labelspark_spark.queries import q_similarity_kmeans_ivf, q_similarity_topk

    got = {
        (r.query_id, r.neighbor_id)
        for r in q_similarity_kmeans_ivf(spark, SF_SMOKE).collect()
    }
    exact = {
        (r.query_id, r.neighbor_id)
        for r in q_similarity_topk(spark, SF_SMOKE).filter("rank <= 5").collect()
    }
    recall = len(got & exact) / max(len(exact), 1)
    assert recall >= 0.5, f"kmeans-IVF recall too low: {recall}"


def test_embedding_lsh_dedup_recall_and_precision(spark, emb=None):
    emb = read_table(spark, SF_SMOKE, "embeddings")
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_dup_pairs(emb, "embedding", "vec_id", threshold=0.4).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_dup_pairs_lsh(
            emb, "embedding", "vec_id", threshold=0.4, num_planes=3, num_tables=10
        ).collect()
    }
    recall = len(exact & approx) / max(len(exact), 1)
    assert recall >= 0.9, f"LSH-blocked embedding dedup recall too low: {recall}"
    # every candidate is cosine-verified: zero false positives
    assert approx <= exact


def test_embedding_ivf_dedup_recall_and_precision(spark):
    emb = read_table(spark, SF_SMOKE, "embeddings")
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_dup_pairs(emb, "embedding", "vec_id", threshold=0.4).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_dup_pairs_ivf(
            emb, "embedding", "vec_id", threshold=0.4, k=16, nprobe=4
        ).collect()
    }
    recall = len(exact & approx) / max(len(exact), 1)
    assert recall >= 0.9, f"IVF-blocked embedding dedup recall too low: {recall}"
    # every candidate is cosine-verified: zero false positives
    assert approx <= exact


def test_kmeans_fit_fused_matches_loop(spark):
    # single-partition inputs run the whole fit as ONE Arrow task
    # (_fit_one_task); many-split inputs run the staged plan
    # (_fit_staged). The contract is BIT-identity of the two plans on
    # the same input — init selection, per-batch partial sums,
    # quantized argmax, empty-cluster keep and early break. Exercise
    # several (k, iters) shapes including max_iters=0 (init only), a
    # k>n row-deficit, and k > 64 (one-task two-level fit vs the staged
    # coarse+assign+locals path), up to k = 4225, whose coarse level
    # k1 = 65 is itself past the flat limit (both plans fit it flat).
    emb = read_table(spark, SF_CORRECT, "embeddings")
    assert emb.rdd.getNumPartitions() == 1, "fixture must be single-partition"
    src = emb.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
    key = lambda r: r.centroid_id  # noqa: E731
    for k, iters in ((4, 3), (16, 3), (8, 0), (9, 5), (72, 3), (81, 2), (4225, 2)):
        fused = similarity._fit_one_task(src, k, iters, 42).collect()
        loop = similarity._fit_staged(src, k, iters, 42).collect()
        assert [(r.centroid_id, tuple(r.centroid)) for r in sorted(fused, key=key)] == [
            (r.centroid_id, tuple(r.centroid)) for r in sorted(loop, key=key)
        ], f"fused/loop centroid divergence at k={k} iters={iters}"


def test_kmeans_fit_staged_multi_partition(spark):
    # a many-split input takes the staged plan through kmeans_fit
    # itself (flat at k=16, two-level at k=72): same output contract
    # as the one-task plan, deterministic across calls, and Lloyd's
    # iterations never leave the mean best cosine below the init's
    import math

    from pyspark.sql import Window

    from labelspark_spark.functions.vectors import cosine

    emb = read_table(spark, SF_CORRECT, "embeddings").repartitionByRange(3, "vec_id")
    assert emb.rdd.getNumPartitions() == 3

    def objective(centroids):
        w = Window.partitionBy("vec_id").orderBy(F.col("_cos").desc(), F.col("centroid_id"))
        return (
            emb.crossJoin(F.broadcast(centroids))
            .withColumn("_cos", cosine(F.col("embedding").cast("array<double>"), F.col("centroid")))
            .withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .agg(F.avg("_cos"))
            .first()[0]
        )

    key = lambda r: r.centroid_id  # noqa: E731
    for k in (16, 72):
        fit = similarity.kmeans_fit(emb, k=k, dim=64, max_iters=3)
        c1 = sorted(fit.collect(), key=key)
        c2 = sorted(similarity.kmeans_fit(emb, k=k, dim=64, max_iters=3).collect(), key=key)
        assert [r.centroid_id for r in c1] == list(range(len(c1))) and len(c1) <= k
        assert all(len(r.centroid) == 64 and all(map(math.isfinite, r.centroid)) for r in c1)
        assert [(r.centroid_id, tuple(r.centroid)) for r in c1] == [
            (r.centroid_id, tuple(r.centroid)) for r in c2
        ], f"staged fit not deterministic at k={k}"
        init = similarity.kmeans_fit(emb, k=k, dim=64, max_iters=0)
        assert objective(fit) >= objective(init) - 1e-9, k


def test_kmeans_fit_hierarchical_contract(spark):
    # k > _FLAT_K_MAX routes to the two-level (coarse -> per-cell
    # applyInPandas) fit — the O(n*sqrt(k)) path the k ∝ n deployment
    # rule needs (SURVEY §6). Contract: sequential ids, <= k centroids
    # of the right dim, deterministic across invocations (group rows
    # are hash-reordered before any float op, so shuffle order can't
    # leak into the centroids).
    emb = read_table(spark, SF_CORRECT, "embeddings")
    assert 81 > similarity._FLAT_K_MAX
    c1 = similarity.kmeans_fit(emb, k=81, dim=64, max_iters=2).collect()
    c2 = similarity.kmeans_fit(emb, k=81, dim=64, max_iters=2).collect()
    ids = sorted(r.centroid_id for r in c1)
    assert ids == list(range(len(ids))) and len(ids) <= 81
    assert all(len(r.centroid) == 64 for r in c1)
    key = lambda r: r.centroid_id  # noqa: E731
    assert [(r.centroid_id, tuple(r.centroid)) for r in sorted(c1, key=key)] == [
        (r.centroid_id, tuple(r.centroid)) for r in sorted(c2, key=key)
    ]


def test_embedding_ivf_dedup_recall_through_hierarchical_fit(spark):
    # the k ∝ n scale configuration crosses _FLAT_K_MAX: the recall
    # bound must hold through the two-level fit too (measured 0.932 =
    # 55/59 exactly — the pipeline is deterministic — with zero false
    # positives; re-measured identical after the r11 decimals=9 coarse-
    # assignment fix. 500 vectors / k=72 is much finer cell geometry
    # than the ~500-vector cells the rule produces at scale, so this is
    # the conservative side)
    emb = read_table(spark, SF_CORRECT, "embeddings")
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_dup_pairs(emb, "embedding", "vec_id", threshold=0.4).collect()
    }
    pairs_df = dedup.embedding_dup_pairs_ivf(
        emb, "embedding", "vec_id", threshold=0.4, k=72, nprobe=4
    )
    # the pair-generation plan through the hierarchical fit stays a
    # cell-keyed equi-join — no corpus-x-corpus nested loop
    plan = pairs_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    approx = {(r.id_a, r.id_b) for r in pairs_df.collect()}
    recall = len(exact & approx) / max(len(exact), 1)
    assert recall >= 0.9, f"hierarchical-fit IVF dedup recall too low: {recall}"
    assert approx <= exact


def test_kmeans_fit_hierarchical_plan_and_tie_discipline(spark):
    # plan shape: like the flat path, the returned centroids are a
    # MATERIALIZED local relation (<= k rows collected once) — a lazy
    # plan here would re-execute the corpus assignment + every local
    # fit on each downstream action (e.g. per probe pass)
    emb = read_table(spark, SF_CORRECT, "embeddings")
    cents = similarity.kmeans_fit(emb, k=72, dim=64, max_iters=2)
    plan = cents._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "LocalTableScan" in plan
    assert "FlatMapGroupsInPandas" not in plan  # fit already ran
    assert "CartesianProduct" not in plan

    # tie discipline: a corpus where every vector appears twice (the r9
    # duplicate-vector adversarial case) must still fit
    # deterministically — duplicate rows collapse to identical hash
    # keys only if ids collide, which the +10000 offset prevents
    dup = emb.unionByName(
        emb.select((F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label")
    )
    c1 = similarity.kmeans_fit(dup, k=72, dim=64, max_iters=2).collect()
    c2 = similarity.kmeans_fit(dup, k=72, dim=64, max_iters=2).collect()
    key = lambda r: r.centroid_id  # noqa: E731
    assert [(r.centroid_id, tuple(r.centroid)) for r in sorted(c1, key=key)] == [
        (r.centroid_id, tuple(r.centroid)) for r in sorted(c2, key=key)
    ]
    assert len(c1) <= 72


def test_embedding_ivf_dedup_plan_has_no_cartesian(spark):
    # the kmeans FIT iterates broadcast cross joins (k*dim floats — fine);
    # the pair-generation plan itself must be a cell-keyed equi-join with
    # no corpus-x-corpus nested loop
    emb = read_table(spark, SF_SMOKE, "embeddings")
    plan = (
        dedup.embedding_dup_pairs_ivf(emb, "embedding", "vec_id", k=4, nprobe=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan


def test_embedding_lsh_dedup_plan_has_no_cartesian(spark):
    emb = read_table(spark, SF_SMOKE, "embeddings")
    plan = (
        dedup.embedding_dup_pairs_lsh(emb, "embedding", "vec_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_build_probe_split(spark, tmp_path):
    emb = read_table(spark, SF_SMOKE, "embeddings")
    cents = similarity.kmeans_fit(emb, k=4, dim=64, max_iters=3)
    similarity.ivf_build(emb, cents, table="ivf_idx_t", num_buckets=4)
    try:
        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        probed = similarity.ivf_probe(queries, cents, table="ivf_idx_t", k=5, nprobe=2)
        # same results as the per-call variant on the same centroids
        percall = similarity.ivf_topk(emb, queries, cents, k=5, nprobe=2)
        assert sorted(map(tuple, probed.collect())) == sorted(map(tuple, percall.collect()))

        # THE point of the split: the probe plan never touches the whole
        # corpus — no cross join against the index side, no re-assignment;
        # the only nested-loop join is the tiny query->centroid ranking
        # AQE toString prints Final AND Initial plan copies — inspect
        # only the final section to avoid double-counting operators
        plan = (
            probed._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        index_scans = plan.count("ivf_idx_t")
        assert index_scans >= 1
        # the index scan must feed a broadcast hash join (queries are the
        # broadcast side), not a nested-loop/cartesian stage
        assert "CartesianProduct" not in plan
        bnlj = plan.count("BroadcastNestedLoopJoin")
        assert bnlj <= 1, f"unexpected nested-loop joins in probe plan:\n{plan}"
    finally:
        spark.sql("DROP TABLE IF EXISTS ivf_idx_t")


def test_knn_label_vote_ivf_agrees_with_exact(spark):
    """The IVF-probed pseudo-labeler must agree with the exact brute
    cross-kNN vote on >= 90% of the batch (assign=2 multi-assignment,
    nprobe=5 of k=8 cells; measured 0.95 — hard assignment topped out
    at 0.81 because near-uniform embeddings scatter true neighbors
    across cells, which multi-assignment repairs for 2x index size),
    and must label every batch row."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from labelspark_spark.functions.vectors import cosine_from_parts, dot_expr, norm_expr
    from labelspark_spark.operators.dedup import _hash60
    from labelspark_spark.queries import q_knn_label_vote_ivf
    from labelspark_spark.sources import read_table

    from .conftest import SF_SMOKE

    approx = {r.vec_id: r.predicted_label for r in q_knn_label_vote_ivf(spark, SF_SMOKE).collect()}

    emb = read_table(spark, SF_SMOKE, "embeddings")
    bucket = F.pmod(
        _hash60(F.concat(F.lit("knn:"), F.col("vec_id").cast("string"))), F.lit(100)
    )
    batch = emb.filter(bucket < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_va"),
        norm_expr("embedding", 64).alias("_na"),
    )
    corpus = emb.filter(bucket >= 20).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label"),
        F.col("embedding").alias("_vb"),
        norm_expr("embedding", 64).alias("_nb"),
    )
    scored = batch.crossJoin(corpus).select(
        "query_id",
        "neighbor_id",
        "label",
        F.round(
            cosine_from_parts(dot_expr("_va", "_vb", 64), F.col("_na"), F.col("_nb")), 6
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    nn = scored.select("query_id", "label", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") <= 5
    )
    votes = nn.groupBy("query_id", "label").agg(F.count(F.lit(1)).alias("n"))
    wv = Window.partitionBy("query_id").orderBy(F.col("n").desc(), F.col("label"))
    exact = {
        r.query_id: r.label
        for r in votes.select(
            "query_id", "label", F.row_number().over(wv).alias("rv")
        ).filter(F.col("rv") == 1).collect()
    }
    assert set(approx) == set(exact), "IVF variant must label every batch row"
    agree = sum(1 for k in exact if approx[k] == exact[k]) / len(exact)
    assert agree >= 0.9, f"agreement {agree:.2f} ({len(exact)} rows)"


def test_embedding_lsh_rejects_sub_word_sig_bits(spark):
    import pytest

    from labelspark_spark.operators.dedup import embedding_dup_pairs_lsh
    from labelspark_spark.sources import read_table

    from .conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    for bad in (32, 100):
        with pytest.raises(ValueError, match="sig_bits"):
            embedding_dup_pairs_lsh(emb, "embedding", "vec_id", sig_bits=bad)


def test_pq_topk_recall_and_quality(spark):
    """Two-stage PQ ANN: ADC candidates at rerank=100 must recover >= 70%
    of the exact top-10 sets (measured 86%), and the re-ranked output
    must be exactly ordered by true cosine (the re-rank stage scores
    candidates with the same rounded cosine as brute force)."""
    from pyspark.sql import functions as F

    from labelspark_spark.operators import similarity as sim
    from labelspark_spark.sources import read_table

    from .conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    books = sim.pq_train(emb, num_subspaces=8, dim=64, ksub=16, max_iters=3)
    assert books.shape == (8, 16, 8)
    approx = sim.pq_topk(
        emb, queries, books, k=10, rerank=100, query_id_col="query_id"
    )
    exact = sim.brute_force_topk(emb, queries, k=10)
    a = {(r.query_id, r.neighbor_id) for r in approx.select("query_id", "neighbor_id").collect()}
    e = {(r.query_id, r.neighbor_id) for r in exact.select("query_id", "neighbor_id").collect()}
    assert len(e) == 50
    recall = len(a & e) / len(e)
    assert recall >= 0.7, f"PQ recall {recall:.2f}"
    # every returned neighbor that IS a true top-10 member must carry the
    # same exact cosine the brute force computed (re-rank is exact)
    ex_cos = {(r.query_id, r.neighbor_id): r.cos for r in exact.collect()}
    for r in approx.collect():
        if (r.query_id, r.neighbor_id) in ex_cos:
            assert r.cos == ex_cos[(r.query_id, r.neighbor_id)]


def test_jl_projection_distance_concentration(spark):
    """q_embedding_jl_projection: the Johnson-Lindenstrauss bound in
    practice. For a +-1 Rademacher projection to k=16 dims, the squared
    norm ratio E[pnorm2 / (k * onorm2)] = 1 with sd ~ sqrt(2/k) ~ 0.35,
    so the per-vector ratio_ppm must concentrate around 1e6: median
    within 20%, and >= 90% of vectors within [0.3, 2.2] (≈ ±3.4 sd)."""
    from labelspark_spark.queries import q_embedding_jl_projection

    rows = q_embedding_jl_projection(spark, SF_SMOKE).select("ratio_ppm").collect()
    ratios = sorted(r.ratio_ppm / 1e6 for r in rows)
    assert len(ratios) >= 100
    median = ratios[len(ratios) // 2]
    assert 0.8 <= median <= 1.2, f"JL ratio median {median:.3f} off 1.0"
    inside = sum(1 for r in ratios if 0.3 <= r <= 2.2) / len(ratios)
    assert inside >= 0.9, f"only {inside:.1%} of JL ratios within bound"


def test_ivf_probe_batch_matches_broadcast_probe(spark):
    """ivf_probe_batch must produce the same (query, neighbor, cos)
    sets as the broadcast+HOF ivf_probe on the same persisted index —
    two physical strategies, one operator. Since r9 this equality is
    EXACT by construction: the batch path's matmul only pre-selects
    (with a 1e-4 margin), and survivors are re-scored Spark-side with
    the identical fold/stored-norm/round chain ivf_probe evaluates."""
    import shutil
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    emb = _emb(spark)
    centroids = similarity.kmeans_fit(emb, k=4, dim=64, max_iters=2)
    table = "ivf_probe_batch_parity"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    if wh.scheme in ("", "file"):
        shutil.rmtree(f"{wh.path}/{table}", ignore_errors=True)
    similarity.ivf_build(emb, centroids, table=table, num_buckets=4, assign=2)
    queries = emb.filter(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = similarity.ivf_probe(queries, centroids, table=table, k=5, nprobe=2)
    b = similarity.ivf_probe_batch(queries, centroids, table=table, k=5, nprobe=2)
    sa = {(r.query_id, r.neighbor_id, r.cos) for r in a.collect()}
    sb = {(r.query_id, r.neighbor_id, r.cos) for r in b.collect()}
    assert sa == sb, f"only-broadcast={sorted(sa-sb)[:5]} only-batch={sorted(sb-sa)[:5]}"


def test_ivf_probe_batch_exact_under_duplicate_vector_ties(spark):
    """Adversarial tie case for the r9 pre-select+rescore design: a
    corpus where MANY vectors are exact duplicates of each other, so
    the k-th boundary of every cell is a wall of identical cosines
    (the configuration where the old rounded-matmul selection could
    diverge from the fold path by one ULP). The margin keeps every
    tied row, the Spark-side rescore reproduces ivf_probe's doubles
    bit-for-bit, and the (cos desc, id asc) rank picks identical
    rows."""
    import shutil
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    base = _emb(spark).filter(F.col("vec_id") < 12).select("vec_id", "embedding")
    # 4 copies of each of 12 vectors -> every neighborhood is tie-packed
    dup = base
    for i in (1, 2, 3):
        dup = dup.unionAll(
            base.select((F.col("vec_id") + 1000 * i).alias("vec_id"), "embedding")
        )
    centroids = similarity.kmeans_fit(dup, k=2, dim=64, max_iters=2)
    table = "ivf_probe_batch_ties"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    if wh.scheme in ("", "file"):
        shutil.rmtree(f"{wh.path}/{table}", ignore_errors=True)
    similarity.ivf_build(dup, centroids, table=table, num_buckets=2, assign=2)
    queries = base.select(F.col("vec_id").alias("query_id"), "embedding")
    a = similarity.ivf_probe(queries, centroids, table=table, k=5, nprobe=2)
    b = similarity.ivf_probe_batch(queries, centroids, table=table, k=5, nprobe=2)
    sa = {(r.query_id, r.neighbor_id, r.cos, r.rank) for r in a.collect()}
    sb = {(r.query_id, r.neighbor_id, r.cos, r.rank) for r in b.collect()}
    assert sa == sb, f"only-broadcast={sorted(sa-sb)[:5]} only-batch={sorted(sb-sa)[:5]}"


def test_kmeans_twolevel_recall_query(spark):
    # the r11 driver-contract companion for the HIERARCHICAL fit
    # (queries.q_kmeans_twolevel_recall): k=72 > _FLAT_K_MAX routes
    # through the two-level path, and the declared integer-math bound
    # (recall >= 0.6 vs exact top-5) must hold at the smoke SF exactly
    # as the oracle pins it at sf0.01
    from labelspark_spark.queries import q_kmeans_twolevel_recall

    row = q_kmeans_twolevel_recall(spark, SF_SMOKE).collect()[0]
    assert row.exact_pairs == 25
    assert row.recall_ok is True


def test_embedding_ivf_cell_local_cos_parity(spark):
    # r13 optimization: pair scoring moved INTO the probed cell
    # (applyInPandas half-matrix per cell) — the kernel must reproduce
    # the exact einsum/sqrt/HALF_UP chain of the old rejoin-and-verify
    # shape. Pin: every emitted cos equals an independent NumPy
    # recomputation bit-for-bit, pairs are unique and ordered, and the
    # threshold holds.
    import numpy as np

    emb = _emb(spark)
    vecs = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in emb.select("vec_id", "embedding").collect()
    }
    rows = dedup.embedding_dup_pairs_ivf(
        emb, "embedding", "vec_id", threshold=0.4, k=8, nprobe=2
    ).collect()
    assert rows, "no pairs emitted"
    seen = set()
    for r in rows:
        assert r.id_a < r.id_b
        assert (r.id_a, r.id_b) not in seen, "multi-cell duplicate survived"
        seen.add((r.id_a, r.id_b))
        va, vb = vecs[r.id_a], vecs[r.id_b]
        dot = float(np.einsum("i,i->", va, vb))
        den = float(np.sqrt(np.einsum("i,i->", va, va))) * float(
            np.sqrt(np.einsum("i,i->", vb, vb))
        )
        cos = 0.0 if den == 0 else dot / den
        cos = float(np.sign(cos) * np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6)
        assert r.cos == cos, (r.id_a, r.id_b, r.cos, cos)
        assert r.cos >= 0.4


def test_cell_pairs_chunk_indices_match_triu():
    # _cell_pairs generates each chunk's pair indices arithmetically
    # (dedup._triu_chunks, a searchsorted over per-row start offsets)
    # instead of materializing np.triu_indices(n, 1) up front. Pin the
    # generated (qs, cs) sequence identical to triu's enumeration across
    # n values straddling chunk boundaries, including the chunk step
    # used in production (2^13).
    import numpy as np

    for n, step in ((2, 3), (5, 4), (37, 16), (129, 1 << 13), (200, 1 << 13)):
        chunks = list(dedup._triu_chunks(n, step))
        assert all(len(qs) <= step for qs, _ in chunks), n
        qi, ci = np.triu_indices(n, k=1)
        assert np.array_equal(np.concatenate([qs for qs, _ in chunks]), qi), n
        assert np.array_equal(np.concatenate([cs for _, cs in chunks]), ci), n
