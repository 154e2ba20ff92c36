"""Approximate-nearest-neighbor similarity search (north-star).

- :func:`brute_force_topk` — exact cosine top-k, the correctness
  baseline. Broadcast the (small) query set against the (huge) corpus:
  one broadcast-nested-loop with no corpus shuffle; per-corpus-partition
  partial top-k would be the AQE-free refinement at extreme k*q.
- :func:`lsh_ann_topk` — random-hyperplane LSH bucketing: corpus is
  pre-bucketed once (write-amortized at scale), queries probe matching
  buckets only, so cost ~ bucket size, not corpus size.
- :func:`kmeans_fit` + :func:`ivf_build` / :func:`ivf_probe` /
  :func:`ivf_probe_batch` / :func:`ivf_topk` — inverted-file variant:
  corpus assigned to nearest centroid; queries probe ``nprobe`` nearest
  centroid lists.
- :func:`knn_label_vote_arrow` and the product-quantization trio
  (:func:`pq_train`, :func:`pq_encode`, :func:`pq_topk`).

Every reported ``cos`` is a Spark expression (HOF folds,
``F.round(..., 6)``). The k-means fit, centroid assignment, batch-probe
pre-selection, kNN vote and PQ encode/ADC are NumPy kernels in Arrow
UDFs; the k-means pieces are module-level helpers that executor
closures call directly. Hyperplanes and k-means init are deterministic
(seeded LCG / seeded ``xxhash64``), so results reproduce everywhere.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from labelspark_spark.functions.vectors import cosine, dot


def exact_cosine_rescore(qv, nv, nq, nb):
    """The ONE scoring expression both IVF probe strategies report.

    ``ivf_probe`` (broadcast + per-pair HOF fold) and
    ``ivf_probe_batch`` (Arrow cogroup matmul pre-selector) are
    bit-identical BY CONSTRUCTION: the batch matmul only pre-selects
    candidates, and every reported ``cos`` comes from this expression —
    left-associated HOF fold dot product, the precomputed query/index
    norms, ``F.round(..., 6)`` HALF_UP. Keeping it in one helper makes
    the guarantee structural: an edit here changes both physical
    strategies identically, so they cannot drift at a rounding boundary
    (the r8 ADVICE failure mode). All four args are double-typed
    Columns: query vector, neighbor vector, query norm, neighbor norm.
    """
    from labelspark_spark.functions.vectors import cosine_from_parts

    return F.round(cosine_from_parts(dot(qv, nv), nq, nb), 6)


def _rank_topk(
    scored: DataFrame,
    query_id: str,
    k: int,
    two_phase: bool = False,
    order_cols=None,
) -> DataFrame:
    """Deterministic top-k: rank on rounded cosine desc, id asc by
    default; pass ``order_cols`` for other metrics (e.g. L2 distance
    ascending).

    ``two_phase=True`` first ranks within (scan partition, query) — the
    shuffle spreads over num_partitions × num_queries reducers and cuts
    each group to k rows — then runs the final per-query rank on the
    ~partitions*k survivors. Without it, the per-query window partition
    holds the FULL scored set for that query (the whole corpus for brute
    force): a guaranteed straggler/OOM at 100 TB. Results are identical:
    the global top-k is a subset of the union of per-partition top-ks,
    and both phases share the same total tie order.
    """
    order = (
        list(order_cols)
        if order_cols is not None
        else [F.col("cos").desc(), F.col("neighbor_id").asc()]
    )
    if two_phase:
        w1 = Window.partitionBy("_pid", query_id).orderBy(*order)
        scored = (
            scored.withColumn("_pid", F.spark_partition_id())
            .withColumn("_r", F.row_number().over(w1))
            .filter(F.col("_r") <= k)
            .drop("_pid", "_r")
        )
    w = Window.partitionBy(query_id).orderBy(*order)
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    dim: int = 64,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Queries are broadcast (small side); the corpus never shuffles.
    Returns (query_id, neighbor_id, cos, rank).
    """
    # HOF cosine, not the flat dim-term expression: pair count here is
    # Q*N with Q broadcast-small by contract, so per-pair eval cost is
    # negligible — while the flat form's ~7*dim-node tree costs ~0.5s of
    # driver-side analysis PER PLAN BUILD (measured; it dominated the
    # whole query at sf0.1). Flat codegen stays reserved for the one
    # quadratic-pair JVM site (dedup.embedding_dup_pairs).
    q = F.broadcast(
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    scored = c.crossJoin(q).select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine(F.col("_qv").cast("array<double>"), F.col("_cv").cast("array<double>")), 6
        ).alias("cos"),
    )
    # two-phase: the cross-join output is |corpus| rows per query; a
    # single per-query window would funnel the whole corpus into one task
    return _rank_topk(scored, "query_id", k, two_phase=True).select(
        "query_id", "neighbor_id", "cos", "rank"
    )


def _hyperplanes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]^dim (LCG)."""
    planes = []
    state = seed
    for _ in range(num_planes):
        v = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
            v.append((state / float(2**63)) * 2.0 - 1.0)
        planes.append(v)
    return planes


def lsh_bucket_expr(vec, planes: list[list[float]]):
    """Random-hyperplane signature -> int bucket (sign bit per plane)."""
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(x) for x in p])
        bucket = bucket + F.when(dot(vec.cast("array<double>"), plane) >= 0, F.lit(2**i)).otherwise(
            F.lit(0)
        )
    return bucket


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only corpus rows in the query's
    hyperplane bucket. Equi-join on bucket id — shuffle keyed on a
    2^num_planes-ary key instead of a cross join.

    Recall < 1.0 by construction; verify against brute force by recall
    bound, not hash equality.
    """
    planes = _hyperplanes(dim, num_planes, seed)
    bucket = lsh_bucket_expr(F.col(vec_col), planes)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        bucket.alias("_bucket"),
    )
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            bucket.alias("_bucket"),
        )
    )
    scored = c.join(q, "_bucket").select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine(F.col("_qv").cast("array<double>"), F.col("_cv").cast("array<double>")), 6
        ).alias("cos"),
    )
    return _rank_topk(scored, "query_id", k).select("query_id", "neighbor_id", "cos", "rank")


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    dim: int = 64,
    max_iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Lloyd's k-means over an embedding column — learns the centroid
    table :func:`ivf_topk` probes. Returns a materialized local relation
    ``(centroid_id int, centroid array<double>)``: only the <= k
    centroids ever reach the driver, never the data, and downstream
    actions never re-run the fit.

    Init is the k rows with the smallest ``(xxhash64(id, seed), id)`` —
    a deterministic pseudo-random sample. Each iteration assigns every
    row to its max-cosine centroid (cosine quantized to 9 dp, ties to
    the lowest centroid id) and moves each non-empty cluster's centroid
    to its rows' mean; empty clusters keep their centroid, and the loop
    stops early once an update changes nothing.

    For ``k`` past :data:`_FLAT_K_MAX` the flat O(n*k*d) iteration is
    replaced by a two-level fit — O(n*sqrt(k)*d) per pass — which is
    what the IVF deployment rule k ∝ n (SURVEY §6) needs to stay
    sub-quadratic at 100 TB:

    1. fit ``k1 = ceil(sqrt(k))`` COARSE centroids;
    2. assign every row to its nearest coarse cell;
    3. fit each cell's budget of LOCAL centroids (``k // k1``, +1 for
       the first ``k % k1`` cells, so budgets sum to exactly k) with
       :func:`_local_fit`. A cell smaller than its budget yields one
       centroid per row, so the count never exceeds k but can land
       under it on degenerate splits.

    Two physical plans compute the same centroids bit-for-bit for
    k <= 4096 (pinned by
    tests/test_approx_recall.py::test_kmeans_fit_fused_matches_loop;
    above that the staged coarse fit is itself two-level), and the
    input's split count picks one: a single-partition input
    (every single-row-group sf scan) runs the whole fit as one Arrow
    task (:func:`_fit_one_task`), because the staged form there is a
    chain of serial one-task jobs, each paying the ~0.2s Python-stage
    launch floor for millisecond kernels; a many-split scan runs
    :func:`_fit_staged`, one distributed pass per Lloyd's iteration.
    """
    src = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    if src.rdd.getNumPartitions() == 1:
        return _fit_one_task(src, k, max_iters, seed)
    return _fit_staged(src, k, max_iters, seed)


# k above which kmeans_fit switches to the two-level strategy. Every
# registry query but the two-level attestation pins k <= 64; only the
# k ∝ n scale configurations cross it.
_FLAT_K_MAX = 64

_CENTROIDS_SCHEMA = "centroid_id int, centroid array<double>"
_CELL_CENTROIDS_SCHEMA = "_ccid bigint, _lidx bigint, centroid array<double>"


# ---------------------------------------------------------------------------
# k-means arithmetic. Each piece has one home below, and the executor
# closures of both fit plans (and of the IVF assignment and batch probe)
# call it directly, so the plans run the same float ops in the same
# order. Matrices are always built per Arrow batch and the partial sums
# are accumulated batch by batch — never one concatenated matmul, since
# BLAS blocking may differ by matrix shape.
# ---------------------------------------------------------------------------


def _as_matrix(vs: pd.Series) -> np.ndarray:
    """Vector column of one Arrow batch -> float64 row matrix (float32
    widens exactly like the JVM's ``cast("array<double>")``)."""
    return np.vstack(vs.to_numpy()).astype(np.float64)


def _cosine_matrix(m: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """(rows x centroids) cosine matrix; a zero-norm side scores 0.0."""
    mnorm = np.sqrt(np.einsum("ij,ij->i", m, m))
    cnorm = np.sqrt(np.einsum("ij,ij->i", cents, cents))
    den = mnorm[:, None] * cnorm[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(den == 0, 0.0, (m @ cents.T) / den)


def _nearest(cos: np.ndarray, n: int, decimals: int) -> np.ndarray:
    """Column indices of each row's ``n`` best cosines: cosine quantized
    to ``decimals``, ties to the lowest column (stable argsort)."""
    return np.argsort(-np.round(cos, decimals), axis=1, kind="stable")[:, :n]


def _lloyd_partials(mats, cents: np.ndarray):
    """One Lloyd's assignment over float64 batches: per-centroid row
    counts and vector sums, accumulated with ``np.add.at`` batch by
    batch in the order given."""
    cnt = np.zeros(len(cents), dtype=np.int64)
    sums = np.zeros_like(cents)
    for m in mats:
        cid = _nearest(_cosine_matrix(m, cents), 1, 9)[:, 0]
        np.add.at(cnt, cid, 1)
        np.add.at(sums, cid, m)
    return cnt, sums


def _lloyd(centroids: list, max_iters: int, partials) -> list:
    """Flat Lloyd's loop over a list of centroid lists. ``partials(cents)``
    returns the (counts, sums) of one assignment pass; each non-empty
    cluster moves to ``sums / counts`` (as Python floats), an empty one
    keeps its centroid, and the loop stops once nothing changes."""
    for _ in range(max_iters):
        cnt, sums = partials(np.array(centroids, dtype=np.float64))
        new = list(centroids)
        for i in range(len(new)):
            if cnt[i] > 0:
                new[i] = [float(x) for x in sums[i] / cnt[i]]
        if new == centroids:
            break
        centroids = new
    return centroids


def _init_pick(h: np.ndarray, ids: np.ndarray, k: int) -> list:
    """Row indices of the ``k`` smallest ``(xxhash64, id)`` keys — the
    staged plan's ``orderBy(xxhash64(_id, seed), _id).limit(k)``; a
    Python tuple sort keeps the order exact for any orderable id."""
    return sorted(range(len(h)), key=lambda i: (h[i], ids[i]))[:k]


def _coarse_k(k: int) -> int:
    return max(2, int(np.ceil(np.sqrt(k))))


def _local_fit(
    ids: pd.Series, mat: np.ndarray, cell: int, k: int, k1: int, max_iters: int, seed: int
) -> np.ndarray:
    """Local centroids of one coarse cell of the two-level fit.

    The cell's rows are first re-ordered by a seeded md5 of their id:
    which rows a cell receives is fixed, but their order is not (shuffle
    order), and float sums are order-sensitive. Init is the first
    ``min(budget, rows)`` rows in that order; each step assigns by the
    9-dp quantized argmax and moves each non-empty cluster to
    ``mean(axis=0)`` of its rows, stopping once an update is
    ``array_equal`` to the previous centroids."""
    keys = np.array(
        [hashlib.md5(f"{v}#s{seed}".encode()).hexdigest() for v in ids.astype(str).to_numpy()]
    )
    mat = mat[np.argsort(keys, kind="stable")]
    kk = min(k // k1 + (1 if cell < k % k1 else 0), len(mat))
    cents = mat[:kk].copy()
    for _ in range(max_iters):
        cid = _nearest(_cosine_matrix(mat, cents), 1, 9)[:, 0]
        new = cents.copy()
        for i in range(kk):
            sel = cid == i
            if sel.any():
                new[i] = mat[sel].mean(axis=0)
        if np.array_equal(new, cents):
            break
        cents = new
    return cents


def _cell_frame(cell: int, cents) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "_ccid": np.full(len(cents), cell, dtype=np.int64),
            "_lidx": np.arange(len(cents), dtype=np.int64),
            "centroid": list(cents),
        }
    )


def _centroid_frame(spark, cell_rows) -> DataFrame:
    """Global centroid ids: enumerate the collected per-cell rows in
    ``(_ccid, _lidx)`` order."""
    rows = sorted(cell_rows, key=lambda r: (r._ccid, r._lidx))
    return spark.createDataFrame(
        [(i, list(r.centroid)) for i, r in enumerate(rows)], _CENTROIDS_SCHEMA
    )


def _fit_one_task(src: DataFrame, k: int, max_iters: int, seed: int) -> DataFrame:
    """The whole fit — flat, or coarse + assignment + per-cell local
    fits — inside ONE ``mapInPandas`` task over ``src`` (columns
    ``_id``, ``_v``), for single-partition inputs, where it returns
    what :func:`_fit_staged` returns, bit-for-bit. The init hash is the
    same JVM ``xxhash64`` expression, shipped in as a column; each
    Lloyd's pass sums the same batches in the same order (the staged
    driver merge adds the lone partition's partials onto zeros, the
    identity); the coarse assignment is the same quantized argmax; and
    each cell's md5 re-sort makes scan order vs shuffle order
    immaterial."""
    k1 = _coarse_k(k) if k > _FLAT_K_MAX else None
    with_h = src.select(F.xxhash64(F.col("_id"), F.lit(seed)).alias("_h"), "_id", "_v")

    def _fit(batches):
        hs, ids, mats = [], [], []
        for pdf in batches:
            if len(pdf):
                hs.append(pdf["_h"].to_numpy())
                ids.append(pdf["_id"].to_numpy())
                mats.append(_as_matrix(pdf["_v"]))
        if not mats:
            return
        idv, X = np.concatenate(ids), np.concatenate(mats)
        init = _init_pick(np.concatenate(hs), idv, k1 or k)
        cents = _lloyd(
            [[float(x) for x in X[i]] for i in init],
            max_iters,
            lambda c: _lloyd_partials(mats, c),
        )
        if k1 is None:
            yield _cell_frame(0, cents)
            return
        cents_m = np.array(cents, dtype=np.float64)
        cid = np.concatenate([_nearest(_cosine_matrix(m, cents_m), 1, 9)[:, 0] for m in mats])
        id_series = pd.Series(idv)
        for c in sorted(set(cid.tolist())):
            sel = cid == c
            yield _cell_frame(c, _local_fit(id_series[sel], X[sel], c, k, k1, max_iters, seed))

    return _centroid_frame(
        src.sparkSession, with_h.mapInPandas(_fit, _CELL_CENTROIDS_SCHEMA).collect()
    )


def _fit_staged(src: DataFrame, k: int, max_iters: int, seed: int) -> DataFrame:
    """The distributed fit over ``src`` (columns ``_id``, ``_v``), for
    many-split scans. Flat: a JVM ``orderBy(...).limit(k)`` init, then
    one ``mapInPandas`` job per iteration that assigns and partial-sums
    in the same pass — one (count, sum-vector) row per centroid per
    partition reaches the driver, k*dim doubles per partition.
    Two-level: the coarse fit (this function at ``k1``), a nearest-cell
    assignment pass, then one ``groupBy().applyInPandas`` local fit per
    coarse cell, all cells in parallel.

    Memory contract of the two-level form: ``applyInPandas`` loads ONE
    coarse cell per executor pandas frame, ~n/k1 rows * dim doubles for
    a balanced coarse fit. A degenerate coarse fit (e.g. a
    near-identical corpus) can dump most rows into one cell and OOM
    that executor; cap cell size upstream (salt oversized cells on a
    hash of the id) if the corpus may degenerate."""
    spark = src.sparkSession
    if k <= _FLAT_K_MAX:
        init = (
            src.orderBy(F.xxhash64(F.col("_id"), F.lit(seed)), F.col("_id"))
            .limit(k)
            .select(F.col("_v").cast("array<double>").alias("centroid"))
            .collect()
        )
        vecs = src.select("_v")

        def _partials(cents):
            def _part(batches):
                cnt, sums = _lloyd_partials(
                    (_as_matrix(pdf["_v"]) for pdf in batches if len(pdf)), cents
                )
                yield pd.DataFrame(
                    {"cid": np.arange(len(cents), dtype=np.int64), "cnt": cnt, "s": list(sums)}
                )

            cnt = np.zeros(len(cents), dtype=np.int64)
            sums = np.zeros_like(cents)
            for r in vecs.mapInPandas(_part, "cid bigint, cnt bigint, s array<double>").collect():
                cnt[r.cid] += r.cnt
                sums[r.cid] += np.asarray(r.s, dtype=np.float64)
            return cnt, sums

        cents = _lloyd([list(r.centroid) for r in init], max_iters, _partials)
        return spark.createDataFrame(list(enumerate(cents)), _CENTROIDS_SCHEMA)

    k1 = _coarse_k(k)
    coarse = _fit_staged(src, k1, max_iters, seed)
    cent = coarse.select(F.col("centroid_id").alias("_cid"), F.col("centroid").alias("_cvec"))
    assigned = _assign_to_centroids(src, cent, "_id", "_v", 1, "_id", decimals=9)

    def _local(pdf: pd.DataFrame) -> pd.DataFrame:
        cell = int(pdf["_cid"].iloc[0])
        return _cell_frame(
            cell, _local_fit(pdf["_id"], _as_matrix(pdf["_v"]), cell, k, k1, max_iters, seed)
        )

    cells = assigned.groupBy("_cid").applyInPandas(_local, _CELL_CENTROIDS_SCHEMA)
    return _centroid_frame(spark, cells.collect())


def _nearest_cells_udf(cids: "np.ndarray", cents: "np.ndarray", n: int, decimals: int):
    """Arrow-batched nearest-``n``-centroid assignment: ONE numpy matmul
    per batch against the (k x dim) centroid matrix.

    Replaces the broadcast-crossJoin + window-rank formulation, whose
    per-centroid flat dot expressions (k * dim terms) blew past
    whole-stage codegen and whose rank shuffled k rows per input row.
    Ranking matches the SQL form bit-for-bit at sane inputs: cosine
    rounded to ``decimals``, ties broken by ascending centroid id
    (centroids pre-sorted by id + stable argsort). Boundary caveat
    (r11 review): np.round is half-even where the SQL twin's round is
    HALF_UP — the two can rank differently only when two centroid
    cosines straddle the SAME 6-dp half boundary within ~1 ulp, the
    epsilon class the twin-equality driver row would surface; kept
    as-is because changing the quantizer would perturb every attested
    assignment for a measure-zero tie case.
    """
    order = np.argsort(cids, kind="stable")
    cids_s = cids[order]
    cents_s = cents[order]

    @F.pandas_udf("array<int>")
    def _near(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        idx = _nearest(_cosine_matrix(_as_matrix(vs), cents_s), n, decimals)
        return pd.Series(list(cids_s[idx].astype(np.int32)))

    return _near


def _assign_to_centroids(
    df: DataFrame,
    cent,
    idc: str,
    vecc: str,
    n: int,
    out_id: str,
    dim: int = 64,
    decimals: int = 6,
) -> DataFrame:
    """Nearest-``n`` centroid assignment. The centroid side is k*dim
    floats BY DESIGN (kmeans_fit only ever materializes that much), so
    it collects to a numpy matrix and the assignment is a vectorized
    Pandas-UDF matmul over the (never-collected) vector side.

    ``decimals`` sets the tie-quantization of the argmax: the PROBE
    paths keep the default 6 (bit-for-bit parity with the SQL oracles'
    ``round(cos, 6)``); the hierarchical FIT path passes 9 to match the
    flat fit's per-iteration argmax quantization exactly."""
    rows = cent.select("_cid", "_cvec").collect()
    cids = np.array([r._cid for r in rows], dtype=np.int64)
    cents = np.array([list(r._cvec) for r in rows], dtype=np.float64)
    near = _nearest_cells_udf(cids, cents, n, decimals)
    return (
        df.select(F.col(idc).alias(out_id), F.col(vecc).alias("_v"))
        .withColumn("_cid", F.explode(near(F.col("_v"))))
        .select(out_id, "_v", "_cid")
    )


def ivf_build(
    corpus: DataFrame,
    centroids: DataFrame,
    table: str = "ivf_index",
    num_buckets: int = 32,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    dim: int = 64,
    assign: int = 1,
) -> None:
    """Build the IVF index ONCE and persist it bucketed by centroid id.

    At scale the corpus->centroid assignment IS the index: re-deriving
    it per query (as :func:`ivf_topk` does) repeats a full corpus pass
    every call. This writes (vec_id, embedding, centroid_id) as a
    bucketed managed table so :func:`ivf_probe` reads co-located
    centroid lists with no assignment stage and no exchange.

    ``assign > 1`` is MULTI-ASSIGNMENT (the spill/multi-probe trick):
    each corpus vector is indexed in its ``assign`` nearest cells, so
    a probe catches true neighbors whose primary cell was not probed.
    Recall rises steeply for the cost of an ``assign``x larger index —
    at 100 TB, 2x storage is far cheaper than probing ~all cells
    (which degenerates to a corpus scan per query batch). The probe
    side dedups (query, neighbor) pairs, so multiply-indexed rows
    never double-score.

    The vector's L2 norm is computed ONCE here and stored as an index
    column (`_norm`): at 100 TB the index is written once and probed
    many times, so the norm fold belongs on the build side — each
    probe then pays exactly one fold (the pair dot product) per
    scored candidate.
    """
    from labelspark_spark.functions.vectors import l2_norm
    from labelspark_spark.sources.writers import write_bucketed

    cent = F.broadcast(
        centroids.select(
            F.col(centroid_id_col).alias("_cid"), F.col(centroid_vec_col).alias("_cvec")
        )
    )
    # NB (r13 optimization round): the bucketed write below now
    # repartitions to the bucket spec, so the write parallelizes
    # regardless of the scan's split count; spreading the corpus before
    # the assignment UDF was tried and reverted (per-task Arrow
    # overhead outweighed the one-matmul stage on small inputs).
    assignment = _assign_to_centroids(
        corpus, cent, id_col, vec_col, assign, "vec_id", dim
    ).select(
        F.col("vec_id"),
        F.col("_v").alias("embedding"),
        F.col("_cid").alias("centroid_id"),
        l2_norm(F.col("_v").cast("array<double>")).alias("_norm"),
    )
    write_bucketed(assignment, table, bucket_cols=["centroid_id"], num_buckets=num_buckets)


def ivf_probe(
    queries: DataFrame,
    centroids: DataFrame,
    table: str = "ivf_index",
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    dim: int = 64,
) -> DataFrame:
    """Probe a persisted IVF index: NO corpus-wide work.

    Queries (small) are assigned to their ``nprobe`` centroids and
    BROADCAST against the bucketed index scan — the index never
    shuffles, never re-assigns, and only the probed centroid lists'
    rows survive the join. The probe plan contains no cross join over
    the corpus (asserted in tests/test_plan_quality.py).

    Pair scoring hoists the two NORM folds to per-row projections
    (computed once per index row / per assigned query) and keeps only
    the dot-product fold per pair — with nprobe/k cells probed the
    pair count is a corpus fraction PER QUERY, so cutting the per-pair
    folds from three to one is the probe's dominant lever (measured
    5.8s -> 2.1s at sf0.1). The folds stay HIGHER-ORDER-FUNCTION form:
    the flat 64-term expression tree falls out of whole-stage codegen
    (method-size limit) and interprets SLOWER than the HOF fold here
    (measured 15.6s — the opposite of the small-expression sites where
    flat wins). Bit-equal results: cosine_from_parts documents the
    identical IEEE op order."""
    from labelspark_spark.functions.vectors import l2_norm

    spark = queries.sparkSession
    raw = spark.table(table)
    # prefer the build-time stored norm; recompute only for indexes
    # written before the `_norm` column existed
    if "_norm" in raw.columns:
        index = raw.select(
            "centroid_id", "vec_id", "embedding", F.col("_norm").alias("_nb")
        )
    else:
        index = raw.select(
            "centroid_id",
            "vec_id",
            "embedding",
            l2_norm(F.col("embedding").cast("array<double>")).alias("_nb"),
        )
    cent = F.broadcast(
        centroids.select(
            F.col(centroid_id_col).alias("_cid"), F.col(centroid_vec_col).alias("_cvec")
        )
    )
    q = F.broadcast(
        _assign_to_centroids(queries, cent, query_id_col, vec_col, nprobe, "query_id", dim)
        .withColumnRenamed("_v", "_qv")
        .withColumnRenamed("_cid", "centroid_id")
        .withColumn("_nq", l2_norm(F.col("_qv").cast("array<double>")))
    )
    scored = (
        index.join(q, "centroid_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            exact_cosine_rescore(
                F.col("_qv").cast("array<double>"),
                F.col("embedding").cast("array<double>"),
                F.col("_nq"),
                F.col("_nb"),
            ).alias("cos"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _rank_topk(scored, "query_id", k).select("query_id", "neighbor_id", "cos", "rank")


def ivf_probe_batch(
    queries: DataFrame,
    centroids: DataFrame,
    table: str = "ivf_index",
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    dim: int = 64,
    chunk_rows: int = 512,
) -> DataFrame:
    """IVF probe for LARGE query batches — the physical strategy twin of
    :func:`ivf_probe`, with BIT-IDENTICAL output by construction.

    ``ivf_probe``'s broadcast + per-pair HOF fold is the right plan
    when the query set is small; at pseudo-labeling batch sizes (20% of
    the corpus probing 5/8 of the cells it is ~7e8 fold evaluations,
    measured ~5s at sf0.1 — the #1 line of knn_ivf_agreement). Here
    each cell's scoring is ONE numpy matmul: the bucketed index cogroups
    with the assigned queries on centroid_id (the index side reads
    bucket-aligned; queries shuffle on the same key), evaluated in
    Arrow batches chunked to ``chunk_rows`` query rows (bounds the
    matrix at chunk*|cell| doubles).

    The matmul is a PRE-SELECTOR only, never the reported score: per
    query it keeps every cell row within ``1e-4`` of the cell's k-th
    best matmul cosine, and the survivors (<= nprobe*(k+ties) rows per
    query) are re-scored ON THE SPARK SIDE with the exact expression
    chain :func:`ivf_probe` uses — left-associated HOF fold dot, the
    index's stored build-time ``_norm``, ``F.round(..., 6)`` HALF_UP —
    so the two physical strategies cannot diverge at a rounding
    boundary or across float accumulation orders (numpy matmul is
    pairwise/SIMD-summed; the fold is sequential; both land within
    ~1e-15 of the true cosine, so the 1e-4 margin provably covers every
    ordering flip the 1e-6 quantization could surface). Measured
    5.0s -> ~0.9s at sf0.1 for the knn batch with the same votes."""
    from labelspark_spark.functions.vectors import l2_norm

    spark = queries.sparkSession
    raw = spark.table(table)
    # same norm source as ivf_probe: build-time stored `_norm`, else a
    # recompute with the identical fold expression
    nb = (
        F.col("_norm")
        if "_norm" in raw.columns
        else l2_norm(F.col("embedding").cast("array<double>"))
    )
    index = raw.select("centroid_id", "vec_id", "embedding", nb.alias("_nb"))
    cent = F.broadcast(
        centroids.select(
            F.col(centroid_id_col).alias("_cid"), F.col(centroid_vec_col).alias("_cvec")
        )
    )
    q = (
        _assign_to_centroids(queries, cent, query_id_col, vec_col, nprobe, "query_id", dim)
        .withColumnRenamed("_v", "_qv")
        .withColumnRenamed("_cid", "centroid_id")
    )

    _EMPTY = {
        "query_id": pd.array([], dtype="int64"),
        "neighbor_id": pd.array([], dtype="int64"),
        "_qv": pd.array([], dtype="object"),
        "_nbr": pd.array([], dtype="object"),
        "_nb": pd.array([], dtype="float64"),
    }

    def _select_cell(idx_pdf: pd.DataFrame, q_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(idx_pdf) == 0 or len(q_pdf) == 0:
            return pd.DataFrame(_EMPTY)
        ids = idx_pdf["vec_id"].to_numpy()
        C = _as_matrix(idx_pdf["embedding"])
        nbs = idx_pdf["_nb"].to_numpy(dtype="float64")
        kk = min(k, len(ids))
        outs = []
        qids_all = q_pdf["query_id"].to_numpy()
        for s in range(0, len(q_pdf), chunk_rows):
            Qm = _as_matrix(q_pdf["_qv"].iloc[s : s + chunk_rows])
            qid = qids_all[s : s + chunk_rows]
            cos = _cosine_matrix(Qm, C)
            # keep everything within the margin of the cell's k-th best:
            # a dropped row is > 1e-4 below kk in-cell rows, so it can
            # never re-enter the exact global top-k after the <= 1e-6
            # rounding movement (fp error ~1e-15)
            kth = np.partition(cos, len(ids) - kk, axis=1)[:, len(ids) - kk]
            qi, ci = np.nonzero(cos >= (kth[:, None] - 1e-4))
            outs.append(
                pd.DataFrame(
                    {
                        "query_id": qid[qi],
                        "neighbor_id": ids[ci],
                        "_qv": [Qm[i] for i in qi],
                        "_nbr": [C[j] for j in ci],
                        "_nb": nbs[ci],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True) if outs else pd.DataFrame(_EMPTY)

    survivors = (
        index.groupBy("centroid_id")
        .cogroup(q.groupBy("centroid_id"))
        .applyInPandas(
            lambda left, right: _select_cell(left, right),
            "query_id bigint, neighbor_id bigint, "
            "_qv array<double>, _nbr array<double>, _nb double",
        )
    )
    # exact rescore: the SAME shared expression tree ivf_probe
    # evaluates (exact_cosine_rescore), on the same doubles
    # (float->double widening is IEEE-exact both in numpy and in
    # Spark's cast), so cos is bit-equal across the twins
    scored = survivors.select(
        "query_id",
        "neighbor_id",
        exact_cosine_rescore(
            F.col("_qv"),
            F.col("_nbr"),
            l2_norm(F.col("_qv")),
            F.col("_nb"),
        ).alias("cos"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    return _rank_topk(scored, "query_id", k).select("query_id", "neighbor_id", "cos", "rank")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    dim: int = 64,
) -> DataFrame:
    """IVF ANN: corpus rows indexed by nearest centroid; each query
    probes its ``nprobe`` nearest centroid lists.

    ``centroids`` is small (broadcast); corpus assignment is one
    broadcast pass; probe is an equi-join on centroid id.
    """
    cent = F.broadcast(
        centroids.select(
            F.col(centroid_id_col).alias("_cid"), F.col(centroid_vec_col).alias("_cvec")
        )
    )
    c = _assign_to_centroids(corpus, cent, id_col, vec_col, 1, "neighbor_id", dim)
    q = _assign_to_centroids(
        queries, cent, query_id_col, vec_col, nprobe, "query_id", dim
    ).withColumnRenamed("_v", "_qv")
    scored = c.join(q, "_cid").select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine(F.col("_qv").cast("array<double>"), F.col("_v").cast("array<double>")), 6
        ).alias("cos"),
    ).distinct()
    return _rank_topk(scored, "query_id", k).select("query_id", "neighbor_id", "cos", "rank")


def knn_label_vote_arrow(
    emb: DataFrame,
    corpus_parquet: str,
    k: int = 5,
    dim: int = 64,
    corpus_mask_fn=None,
) -> DataFrame:
    """Exact k-NN majority-label vote, Arrow/numpy scoring path.

    Produces BIT-IDENTICAL results to the expression-tree formulation
    (pair cosine via flat left-fold dot/norms, ppm floor, neighbor order
    (cos_ppm desc, id asc), vote order (votes desc, label asc)) — the
    numpy inner loop accumulates over the dim axis sequentially
    (``acc += A[:,d] * B[:,d]``), which is element-wise the same IEEE
    mul-then-add chain as the flat SQL expression, so every double and
    every floor comes out equal. Justification for Python here: the
    64-term dot sits above a BroadcastNestedLoopJoin, outside whole-stage
    codegen, and evaluates INTERPRETED at ~100us/pair; Arrow + vectorized
    numpy is ~100x faster with identical bits. This is the declared
    ORACLE variant — the 100 TB path is the IVF probe
    (queries.py:q_knn_label_vote_ivf); here the corpus side is read
    executor-side per task from parquet (no driver collect), exactly the
    build-side read a broadcast hash join would do.

    ``corpus_mask_fn(ids: np.ndarray) -> bool ndarray`` optionally
    restricts the NEIGHBOR side after the read (e.g. the 80% labeled
    slice in the IVF-agreement companion) — queries vote only over the
    masked corpus; the ids-disjoint case skips nothing else.
    """
    out_schema = (
        "vec_id long, label int, predicted_label int, n_votes long"
    )

    def _score(batches):
        import pyarrow.parquet as pq

        t = pq.read_table(corpus_parquet, columns=["vec_id", "embedding", "label"])
        b_ids = t.column("vec_id").to_numpy()
        b_labels = t.column("label").to_numpy()
        # cast float32 -> float64 BEFORE any arithmetic, as the
        # expression form casts each element before the product
        B = np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)
        if corpus_mask_fn is not None:
            m = corpus_mask_fn(b_ids)
            b_ids, b_labels, B = b_ids[m], b_labels[m], B[m]
        nb = np.zeros(len(b_ids))
        for d in range(dim):
            nb += B[:, d] * B[:, d]
        nb = np.sqrt(nb)

        for pdf in batches:
            A = np.asarray(pdf["embedding"].to_list(), dtype=np.float64)
            a_ids = pdf["vec_id"].to_numpy()
            a_labels = pdf["label"].to_numpy()
            na = np.zeros(len(a_ids))
            for d in range(dim):
                na += A[:, d] * A[:, d]
            na = np.sqrt(na)

            out = []
            # chunk the query rows so the m x n score matrix stays small
            for lo in range(0, len(a_ids), 512):
                Ac = A[lo : lo + 512]
                dots = np.zeros((len(Ac), len(b_ids)))
                for d in range(dim):
                    dots += Ac[:, d : d + 1] * B[None, :, d]
                denom = na[lo : lo + 512, None] * nb[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.where(denom == 0.0, 0.0, dots / denom)
                ppm = np.floor(cos * 1000000.0 + 0.5).astype(np.int64)
                for r in range(len(Ac)):
                    self_mask = b_ids != a_ids[lo + r]
                    cand_ppm = ppm[r][self_mask]
                    cand_ids = b_ids[self_mask]
                    cand_lab = b_labels[self_mask]
                    # neighbor order: cos_ppm desc, id asc (stable lexsort)
                    order = np.lexsort((cand_ids, -cand_ppm))[:k]
                    top_lab = cand_lab[order]
                    labs, votes = np.unique(top_lab, return_counts=True)
                    # vote order: votes desc, label asc
                    win = np.lexsort((labs, -votes))[0]
                    out.append(
                        (
                            int(a_ids[lo + r]),
                            int(a_labels[lo + r]),
                            int(labs[win]),
                            int(votes[win]),
                        )
                    )
            yield pd.DataFrame(
                out, columns=["vec_id", "label", "predicted_label", "n_votes"]
            )

    par = emb.sparkSession.sparkContext.defaultParallelism
    return (
        emb.repartition(par)
        .select("vec_id", "label", "embedding")
        .mapInPandas(_score, schema=out_schema)
    )


# ---------------------------------------------------------------------------
# Product quantization (round 5): the classic memory-side ANN scale lever —
# vectors compress to M sub-space codebook codes (here 8 x 4-bit = 8 bytes
# vs 256 bytes of float32), candidate scoring is table lookups against the
# broadcastable codebooks (asymmetric distance computation), and only a
# small re-rank candidate set ever touches real vectors. At 100 TB the
# corpus rides scans 32x lighter and the codebooks are k*dim driver data,
# exactly like kmeans_fit's centroids.
# ---------------------------------------------------------------------------


def pq_train(
    df: DataFrame,
    num_subspaces: int = 8,
    dim: int = 64,
    ksub: int = 16,
    max_iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> "np.ndarray":
    """Train per-subspace codebooks: Lloyd's k-means (the existing
    distributed :func:`kmeans_fit`) over each dim/M-wide slice of the
    embedding. Returns an (M, ksub, dsub) float64 array — codebooks are
    index metadata (M*ksub*dsub floats), the only thing collected."""
    if dim % num_subspaces:
        raise ValueError(
            f"dim={dim} is not divisible by num_subspaces={num_subspaces}: "
            f"the trailing {dim % num_subspaces} dimensions would be "
            "silently excluded from every codebook and ADC lookup while "
            "pq_encode's stored norm still includes them — recall would "
            "quietly degrade with no error"
        )
    dsub = dim // num_subspaces

    def _one_subspace(m: int) -> list:
        sub = df.select(
            F.col(id_col).alias("_sid"),
            F.slice(F.col(vec_col).cast("array<double>"), m * dsub + 1, dsub).alias("_sv"),
        )
        cb = kmeans_fit(
            sub, k=ksub, dim=dsub, max_iters=max_iters,
            vec_col="_sv", id_col="_sid", seed=seed + m,
        )
        return [r.centroid for r in cb.orderBy("centroid_id").collect()]

    # The M subspace fits are fully independent (disjoint slices, own
    # seeds), but each is a chain of small driver-blocking actions, and
    # each subspace's DISTINCT slice plan pays its own analysis/codegen
    # on the driver — run them from a small thread pool so compile and
    # execution overlap instead of serializing (guide §2.6; measured
    # ~18s -> ~6s cold at sf0.1). pool.map preserves subspace order, so
    # the stacked array is bit-identical to the sequential build.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(8, num_subspaces)) as pool:
        books = list(pool.map(_one_subspace, range(num_subspaces)))
    return np.asarray(books, dtype=np.float64)


def pq_encode(
    df: DataFrame,
    books: "np.ndarray",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode each vector to its per-subspace nearest codeword (L2,
    ties -> lowest code id via argmin-first) plus its true L2 norm (one
    scalar — needed to turn ADC dot estimates into cosine estimates).
    Arrow-batched; one (batch x ksub) distance matmul per subspace."""
    M, ksub, dsub = books.shape

    @F.pandas_udf("struct<codes: array<int>, norm: double>")
    def _enc(vs: pd.Series) -> pd.DataFrame:
        if len(vs) == 0:
            return pd.DataFrame({"codes": [], "norm": []})
        X = np.vstack(vs.to_numpy()).astype(np.float64)
        norms = np.sqrt(np.einsum("ij,ij->i", X, X))
        codes = np.empty((len(X), M), dtype=np.int32)
        for m in range(M):
            sub = X[:, m * dsub : (m + 1) * dsub]
            b = books[m]
            d2 = (
                np.einsum("ij,ij->i", sub, sub)[:, None]
                - 2.0 * (sub @ b.T)
                + np.einsum("ij,ij->i", b, b)[None, :]
            )
            codes[:, m] = np.argmin(d2, axis=1)
        return pd.DataFrame(
            {"codes": [list(c) for c in codes], "norm": norms.astype(np.float64)}
        )

    return df.select(
        F.col(id_col).alias("neighbor_id"), _enc(F.col(vec_col)).alias("_pq")
    ).select("neighbor_id", F.col("_pq.codes").alias("codes"), F.col("_pq.norm").alias("norm"))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    books: "np.ndarray",
    k: int = 10,
    rerank: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage PQ ANN: (1) ADC candidate generation — each query builds
    an (M x ksub) dot-lookup table against the codebooks, every corpus
    code scores as M table lookups normalized by the stored norm; the
    per-partition top-``rerank`` per query is taken INSIDE the Arrow
    batch, so at most partitions*rerank candidate rows leave each scan
    task (queries are broadcast via closure-captured collect of the query
    slice — bounded like centroids, never the corpus). (2) Exact re-rank
    — candidates join back their true vectors and the final top-k uses
    the exact rounded cosine with the same total order as
    :func:`brute_force_topk`. Approximate overall (a true neighbor can
    miss the ADC cut): declared rows-only, recall asserted in tests."""
    M, ksub, dsub = books.shape
    q_rows = (
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
        .orderBy("query_id")
        .collect()
    )
    q_ids = np.array([r.query_id for r in q_rows], dtype=np.int64)
    Q = np.asarray([list(r._qv) for r in q_rows], dtype=np.float64)
    qnorm = np.sqrt(np.einsum("ij,ij->i", Q, Q))
    # per-query ADC lookup tables: dot(q_m, book[m][c])
    tables = np.stack(
        [Q[:, m * dsub : (m + 1) * dsub] @ books[m].T for m in range(M)], axis=1
    )  # (nq, M, ksub)

    enc = pq_encode(corpus, books, vec_col=vec_col, id_col=id_col)

    out_schema = "query_id long, neighbor_id long, adc double"

    def _adc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.vstack(pdf["codes"].to_numpy()).astype(np.int64)  # (n, M)
            norms = pdf["norm"].to_numpy()
            nids = pdf["neighbor_id"].to_numpy()
            # dots[q, x] = sum_m tables[q, m, codes[x, m]]
            dots = np.zeros((len(q_ids), len(nids)))
            for m in range(M):
                dots += tables[:, m, :][:, codes[:, m]]
            with np.errstate(divide="ignore", invalid="ignore"):
                est = np.where(
                    (qnorm[:, None] * norms[None, :]) == 0.0,
                    0.0,
                    dots / (qnorm[:, None] * norms[None, :]),
                )
            rows = []
            keep = min(rerank, len(nids))
            for qi in range(len(q_ids)):
                # partial top-keep inside the batch; ties by neighbor id
                order = np.lexsort((nids, -est[qi]))[:keep]
                for j in order:
                    rows.append((int(q_ids[qi]), int(nids[j]), float(est[qi][j])))
            yield pd.DataFrame(rows, columns=["query_id", "neighbor_id", "adc"])

    cand = (
        enc.mapInPandas(_adc, schema=out_schema)
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("adc").alias("adc"))
    )
    wc = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), F.col("neighbor_id"))
    cand = cand.withColumn("_cr", F.row_number().over(wc)).filter(
        F.col("_cr") <= rerank
    ).drop("_cr", "adc")
    # exact re-rank on the candidate set only
    qv = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nvec"))
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine(F.col("_qvec").cast("array<double>"), F.col("_nvec").cast("array<double>")),
                6,
            ).alias("cos"),
        )
    )
    return _rank_topk(scored, "query_id", k).select(
        "query_id", "neighbor_id", "cos", "rank"
    )
