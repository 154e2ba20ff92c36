"""Deduplication operators (north-star extension; SURVEY §2.9-16).

Five families, all fully distributed — no driver materialization, and
no shuffle just to build a per-document signature (the MinHash and
SimHash signatures are per-batch NumPy kernels over Arrow lists;
tokenizing, shingle hashing and the blocking joins run in the JVM):

- exact:        fingerprint (md5 of normalized text) -> keep-first
- minhash-lsh:  shingle -> minhash signature -> banded buckets ->
                bucket self-join -> exact-jaccard verify
- simhash:      token hash -> per-bit majority vote -> banded hamming
- ngram-jaccard: exact set-overlap self-join on shingles (the oracle-
                checkable ground truth the approximate families target)
- embedding:    cosine >= threshold pair detection

Scale notes (100 TB): every self-join is blocked — either by LSH band
bucket or by shared shingle — never a full cross join. Bucket joins
shuffle on the band key, so near-dup detection cost is proportional to
candidate-pair count, not n^2. All base hashing is md5-derived and
engine-portable, so tests can replay it in Python/DuckDB.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from labelspark_spark.functions.text import fingerprint, normalize_text, word_shingles

# 2^61 - 1 (Mersenne prime): modulus for the minhash permutation family.
MINHASH_PRIME = 2305843009213693951


def base_hash32(col: Column) -> Column:
    """Portable 32-bit hash: first 8 hex chars of md5, as bigint.

    md5 (not xxhash64/murmur) so DuckDB/Python can replay it exactly.
    """
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def _hash60(col: Column) -> Column:
    """60-bit md5-derived hash (collision-safe dictionary key for
    shingle-set verification; still engine-portable)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _perm_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod p.

    Simple LCG on the seed — reproducible everywhere, no RNG state.
    """
    params = []
    state = seed
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        a = (state % (2**30 - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        b = state % (2**30 - 1)
        params.append((a, b))
    return params


def _list_offsets(col: pa.Array) -> np.ndarray:
    """Row offsets into ``col.flatten()`` of one Arrow list column: row
    i owns values ``offsets[i]:offsets[i + 1]``. A null row counts as
    empty (``flatten`` skips whatever backs it)."""
    lens = pc.fill_null(pc.list_value_length(col), 0).to_numpy()
    return np.concatenate(([0], np.cumsum(lens, dtype=np.int64)))


def _minhash_mins(
    offsets: np.ndarray, sh: np.ndarray, params: list[tuple[int, int]]
) -> tuple[np.ndarray, np.ndarray]:
    """Permutation minima of one batch of hashed shingle lists.

    ``sh`` holds the batch's flattened xxhash64 shingles and ``offsets``
    its row offsets; row ``i`` of the ``(len(params), rows)`` result is,
    per document, the minimum of ``(a * (h >>> 32) + b) % MINHASH_PRIME``
    over its shingles for the ``i``-th ``(a, b)``. Exact in int64:
    ``a, b < 2^30`` and ``h >>> 32 < 2^32``. One permutation
    at a time, so the temporaries are O(shingles), not 32x that.
    ``np.minimum.reduceat`` cannot reduce an empty slice (it returns the
    element at the start instead), so it runs over the non-empty rows'
    starts only; the second result marks those rows (an empty row has
    no minimum)."""
    h = (sh.view(np.uint64) >> np.uint64(32)).astype(np.int64)
    filled = offsets[:-1] < offsets[1:]
    starts = offsets[:-1][filled]
    mins = np.zeros((len(params), len(filled)), dtype=np.int64)
    for i, (a, b) in enumerate(params):
        mins[i, filled] = np.minimum.reduceat((a * h + b) % MINHASH_PRIME, starts)
    return mins, filled


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the lowest-id row per normalized-text
    fingerprint. Deterministic (dropDuplicates keeps an arbitrary row;
    this keeps a *defined* one)."""
    w = Window.partitionBy("_fp").orderBy(F.col(id_col))
    return (
        df.withColumn("_fp", fingerprint(F.col(text_col)))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_fp", "_rn")
    )


def minhash_signature(
    shingles: Column, num_hashes: int = 64, seed: int = 42
) -> Column:
    """Minhash signature (array<bigint>, length num_hashes) over a
    shingle array. Base hash computed once per shingle, then permuted —
    all inside codegen."""
    params = _perm_params(num_hashes, seed)
    hashes = F.transform(shingles, lambda s: base_hash32(s))

    def sig_from(hs: Column) -> Column:
        # single-parameter lambdas: PySpark dispatches HOF lambdas on arity
        return F.array(
            *[
                F.array_min(
                    F.transform(hs, lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_PRIME)
                )
                for a, b in params
            ]
        )

    # LET-BIND the base-hash array (transform(array(x), v -> ...)[0] —
    # the winnowing discipline this same file applies in _hash_shingled):
    # every permutation's array_min references it, so CollapseProject
    # would otherwise inline the md5 chain into all num_hashes copies
    # and evaluate it 64x per shingle instead of once (r11 review).
    return F.transform(F.array(hashes), lambda hs: sig_from(hs))[0]


def minhash_bands(sig: Column, num_bands: int, rows_per_band: int) -> Column:
    """Split a signature into band structs: array<struct<band:int, key:string>>."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.array_join(
                    F.transform(
                        F.slice(sig, i * rows_per_band + 1, rows_per_band),
                        lambda x: x.cast("string"),
                    ),
                    "_",
                ).alias("key"),
            )
            for i in range(num_bands)
        ]
    )


def _shingled(
    df: DataFrame, text_col: str, id_col: str, shingle_words: int, unit: str = "word"
) -> DataFrame:
    # Staged: tokenize/normalize once per row in its own Project, then
    # shingle from the staged column. Inlining the tokenizer into the
    # per-shingle lambda re-runs split+filter for every shingle index
    # (~60x per row; measured 10s -> <1s at sf0.1 for the posting count).
    from labelspark_spark.functions.text import normalize_text, whitespace_tokens

    n = shingle_words
    if unit == "char":
        base = df.select(
            F.col(id_col).alias("_id"), normalize_text(F.col(text_col)).alias("_t")
        )
        k = F.greatest(F.length("_t") - F.lit(n - 1), F.lit(1))
        return base.select(
            "_id",
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), k), lambda i: F.substring("_t", i, n)
                )
            ).alias("_sh"),
        )
    toks = df.select(
        F.col(id_col).alias("_id"), whitespace_tokens(F.col(text_col)).alias("_tk")
    )
    k = F.greatest(F.size("_tk") - F.lit(n - 1), F.lit(1))
    return toks.select(
        "_id",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), k - F.lit(1)),
                lambda i: F.array_join(F.slice("_tk", i + F.lit(1), n), " "),
            )
        ).alias("_sh"),
    )


def _hash_shingled(
    df: DataFrame, text_col: str, id_col: str, shingle_words: int, unit: str = "word"
) -> DataFrame:
    """Shingle SETS as hashes: (_id, _sh array<bigint>).

    Word unit: each shingle hashes the n tokens at its index directly
    (``xxhash64(tok_i, .., tok_{i+n-1})``) — native codegen, no
    intermediate shingle strings, no cryptographic digest. Char unit:
    ``xxhash64`` of the length-n substring of the normalized text.

    Shingle equality is preserved exactly (tokens contain no whitespace,
    so the token-tuple ↔ joined-string mapping is injective); set
    cardinalities — and therefore Jaccard — match the string-shingle
    form barring a ~2^-64 hash collision. The minhash and posting-join
    paths run on this; :func:`_shingled` keeps string shingles for
    callers that need the strings themselves.
    """
    from labelspark_spark.functions.text import normalize_text, whitespace_tokens

    n = shingle_words
    # NULL text must not shingle: xxhash64 silently skips NULL args, so a
    # null-text row would hash every shingle to the seed constant and all
    # null-text docs would pair with each other at jaccard 1.0. The
    # string-shingle path yields NULL shingles that never join-match;
    # dropping null rows up front preserves that never-pairs semantics.
    df = df.where(F.col(text_col).isNotNull())
    # single F.expr strings, not per-element Column ops: the shingle
    # builders are called on the bench hot path and the Column form costs
    # hundreds of py4j round trips PER QUERY CONSTRUCTION (~0.5s driver
    # time at local[32]); one parsed expression is the same plan
    # LET-BIND the staged token/text array inside the same expression
    # (transform(array(x), v -> ...)[0], the winnowing discipline):
    # the per-shingle lambda references the staged value several times
    # (element_at xN + size), so CollapseProject would otherwise inline
    # the whole normalize/tokenize chain into EVERY shingle evaluation —
    # O(tokens) work per shingle, O(tokens^2) per doc (measured: the
    # decontaminate posting build was 9.0s at sf0.1, 0.9s let-bound).
    if unit == "char":
        base = df.select(
            F.col(id_col).alias("_id"), normalize_text(F.col(text_col)).alias("_t")
        )
        return base.select(
            "_id",
            F.expr(
                f"transform(array(_t), t -> "
                f"array_distinct(transform(sequence(1, greatest(length(t) - {n - 1}, 1)), "
                f"i -> xxhash64(substring(t, i, {n})))))[0] AS _sh"
            ),
        )
    toks = df.select(
        F.col(id_col).alias("_id"), whitespace_tokens(F.col(text_col)).alias("_tk")
    )
    # try_element_at, NOT element_at: the session runs ANSI mode, where
    # element_at RAISES INVALID_ARRAY_INDEX_IN_ELEMENT_AT on any doc
    # with fewer than n tokens (confirmed: a 1-token doc aborted every
    # caller). try_element_at returns NULL past the end, and xxhash64
    # skips NULL args, so a short doc degrades to one shingle hashing
    # its actual tokens — deterministic, and identical output on all
    # docs with >= n tokens (the non-crashing domain of the old form).
    elems = ", ".join(f"try_element_at(tk, i + {j + 1})" for j in range(n))
    return toks.select(
        "_id",
        F.expr(
            f"transform(array(_tk), tk -> "
            f"array_distinct(transform(sequence(0, greatest(size(tk) - {n - 1}, 1) - 1), "
            f"i -> xxhash64({elems}))))[0] AS _sh"
        ),
    )


def _jaccard_on_pairs(cand: DataFrame, sh: DataFrame, hashed: bool = False) -> DataFrame:
    """Exact Jaccard for candidate (id_a, id_b) pairs via shingle-set
    join-back. cand columns: id_a, id_b. ``hashed=True`` intersects
    60-bit hashes instead of strings (same counts barring a ~2^-40
    collision; far cheaper per pair on long shingle arrays)."""
    if hashed:
        sh = sh.select(
            "_id",
            F.expr(
                "transform(_sh, s -> cast(conv(substring(md5(s), 1, 15), 16, 10) "
                "as bigint)) AS _sh"
            ),
        )
    a = sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sh_a"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sh_b"))
    # No rounding: both engines compute the same int/int double division,
    # so the unrounded value is already bit-identical.
    jaccard = F.expr(
        "cast(size(array_intersect(_sh_a, _sh_b)) as double)"
        " / cast(size(_sh_a) + size(_sh_b)"
        "        - size(array_intersect(_sh_a, _sh_b)) as double) AS jaccard"
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", jaccard)
    )


def _minhash_signatures(sh: DataFrame, num_hashes: int, seed: int) -> DataFrame:
    """``(_id, _m0 .. _m{num_hashes-1})`` MinHash signatures of a
    :func:`_hash_shingled` frame, in ONE Arrow pass per batch
    (:func:`_minhash_mins`) inside the shingling stage: no explode, no
    shuffle; an explode + groupBy with one MIN aggregate per
    permutation would cost time linear in the column count, most of
    :func:`minhash_lsh_pairs`. One output row per input row (ids are
    unique per document); a document with no shingles gets null mins,
    and ``_id`` keeps its input type."""
    params = _perm_params(num_hashes, seed)
    schema = StructType(
        [sh.schema["_id"]] + [StructField(f"_m{i}", LongType()) for i in range(num_hashes)]
    )

    def _mins(batches):
        for batch in batches:
            col = batch.column(1)
            mins, filled = _minhash_mins(_list_offsets(col), col.flatten().to_numpy(), params)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0)] + [pa.array(m, mask=~filled) for m in mins],
                names=schema.names,
            )

    return sh.mapInArrow(_mins, schema)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 32,
    num_bands: int = 16,
    shingle_words: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs via MinHash + LSH banding, exact-verified.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    Candidate generation is a bucket equi-join on (band, key) — shuffle
    on the band key only; never n^2.

    Defaults b=16, r=2: candidate probability 1-(1-j^2)^16 is ~99% at
    j=0.5 and ~48% at j=0.2 — better recall than the classic 64-hash
    r=4 banding at half the hash work, because every candidate is
    exact-verified afterwards (false positives cost a verify, never a
    wrong answer).
    """
    rows_per_band = num_hashes // num_bands
    # Hashed shingles (array<bigint>), NOT string shingles: one native
    # xxhash64 over the n token strings per shingle index — no per-shingle
    # string building (slice+array_join) and no md5. Measured ~1.7x
    # end-to-end vs the md5-string path at sf0.1. Jaccard over the hashed
    # sets equals Jaccard over string sets barring a ~2^-64 collision
    # (which exact verification would merely round, never invent a pair).
    sh = _hash_shingled(df, text_col, id_col, shingle_words)
    minned = _minhash_signatures(sh, num_hashes, seed)
    # One 64-bit key per band (xxhash64 over band index + that band's
    # signature rows) instead of (band:int, key:string): the bucket
    # self-join shuffles/sorts a single bigint — measured ~1.9x faster
    # end-to-end than string band keys at sf0.1. A 2^-64 key collision
    # can only ADD a candidate pair, which exact verification then
    # filters — never a wrong result. (An expr string: the 16 band keys
    # as Column ops cost py4j chatter per query CONSTRUCTION; the parsed
    # form builds the identical plan.)
    band_keys = ", ".join(
        "xxhash64({}, {})".format(
            i,
            ", ".join(f"_m{j}" for j in range(i * rows_per_band, (i + 1) * rows_per_band)),
        )
        for i in range(num_bands)
    )
    # explode_outer, NOT explode: InferFiltersFromGenerate would add a
    # size(arr)>0 filter over the band-key array: per-row work for a
    # filter that can never drop a row. The band array is never empty,
    # so outer semantics are identical.
    buckets = minned.select(
        "_id", F.expr(f"explode_outer(array({band_keys})) AS _key")
    )
    left = buckets.select(F.col("_id").alias("id_a"), "_key")
    right = buckets.select(F.col("_id").alias("id_b"), "_key")
    # merge hint: both sides are the same subplan, so sort-merge lets
    # ReusedExchange run the signature pass ONCE; broadcast would
    # rebuild it per side (and at 100 TB the bucket table can't broadcast).
    cand = (
        left.join(right.hint("merge"), ["_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _jaccard_on_pairs(cand, sh).filter(F.col("jaccard") >= threshold)


# (input-plan semantic hash, shingle params) -> chosen strategy. The
# probe is a table statistic: stable for a given input relation, so cache
# it like an optimizer caches CBO stats instead of re-sampling per query.
_STRATEGY_CACHE: dict[tuple, str] = {}


def _probe_strategy(
    df: DataFrame, text_col: str, id_col: str, shingle_words: int, unit: str
) -> str:
    """Pick 'count' vs 'prefix' from a sampled posting-join size estimate.

    Stats probe on a DOC sample (sampling before shingling, so the probe
    pays ~frac of the tokenize cost, not all of it). df per shingle
    scales ~linearly with the sample fraction, so sum(df^2) scales
    ~frac^2; an order-of-magnitude estimate is all the switch needs.
    Deterministic (fixed seed) and memoized per input plan.
    """
    key = (df.semanticHash(), text_col, id_col, shingle_words, unit)
    if key in _STRATEGY_CACHE:
        return _STRATEGY_CACHE[key]
    frac = 0.2
    sampled = _hash_shingled(df.sample(frac, seed=42), text_col, id_col, shingle_words, unit)
    est_raw = (
        sampled.select(F.explode_outer("_sh").alias("_s"))
        .groupBy("_s")
        .agg(F.count(F.lit(1)).alias("_df"))
        .agg(F.sum(F.col("_df") * F.col("_df")))
        .first()[0]
        or 0
    )
    est = est_raw / (frac * frac)
    strategy = "count" if est <= 50_000_000 else "prefix"
    if len(_STRATEGY_CACHE) > 1024:
        _STRATEGY_CACHE.clear()
    _STRATEGY_CACHE[key] = strategy
    return strategy


def _posting_join_jaccard(pa, pb, threshold, out_a, out_b, pair_filter=None):
    """Shared posting-join body for exact n-gram Jaccard: two posting
    tables (id, set-size n_a/n_b, shingle _s) -> intersection counts ->
    pairs with jaccard >= threshold. Used by the self-join 'count'
    strategy (with the id_a < id_b half-matrix filter) and the
    incremental cross variant (no filter — the sides are disjoint)."""
    joined = pa.join(pb.hint("merge"), "_s")
    if pair_filter is not None:
        joined = joined.filter(pair_filter)
    inter = joined.groupBy(out_a, out_b, "n_a", "n_b").agg(
        F.count(F.lit(1)).alias("inter")
    )
    jac = F.col("inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("inter")
    ).cast("double")
    return inter.select(out_a, out_b, jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_words: int = 3,
    unit: str = "word",
    strategy: str = "auto",
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs (the ground truth).

    Two physical strategies, both exact:

    - ``'count'``: posting-list self-join + per-pair intersection count.
      Optimal when shingle doc-frequencies are low (join output is
      sum(df^2), e.g. word shingles over a broad vocabulary).
    - ``'prefix'``: AllPairs prefix filtering — shingles globally ordered
      by doc frequency (rarest first), only the first
      ``n - ceil(t*n) + 1`` per doc indexed (J >= t implies overlap
      >= t*max(|a|,|b|), so qualifying prefixes must intersect), plus a
      length-ratio filter; candidates then exact-verified against the
      full (hashed) shingle sets. Caps the join when doc frequencies
      are high (char shingles over a narrow alphabet).
    - ``'auto'``: one tiny aggregate over the doc-frequency table
      estimates the posting-join output and picks (the stats-based
      physical-strategy choice an optimizer would make; the stat is a
      single scalar, not a data collect).

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= t.
    ``unit='char'`` shingles normalized characters instead of words.
    """
    # Hashed shingles: the posting join shuffles/sorts bigints instead of
    # shingle strings (~1.3x at sf0.1), and set sizes — hence jaccard —
    # are identical to the string form (see _hash_shingled).
    sh = _hash_shingled(df, text_col, id_col, shingle_words, unit)
    # explode_outer: avoids the inferred size(_sh)>0 filter that pushdown
    # would inline below the staging projects (re-running the tokenizer
    # per row). _sh is non-empty by construction (greatest(...,1) bound).
    posting = sh.select("_id", F.size("_sh").alias("_n"), F.explode_outer("_sh").alias("_s"))

    if strategy == "auto":
        strategy = _probe_strategy(df, text_col, id_col, shingle_words, unit)

    if strategy == "count":
        a = posting.select(F.col("_id").alias("id_a"), F.col("_n").alias("n_a"), "_s")
        b = posting.select(F.col("_id").alias("id_b"), F.col("_n").alias("n_b"), "_s")
        # merge hint: identical subplans on both sides -> ReusedExchange
        # shingles once; posting tables don't broadcast at scale anyway.
        return _posting_join_jaccard(
            a, b, threshold, "id_a", "id_b", F.col("id_a") < F.col("id_b")
        )

    if strategy != "prefix":
        raise ValueError(f"strategy must be 'auto', 'count' or 'prefix', got {strategy!r}")

    # NB (r9): checkpointing the shingle stage here was tried and
    # reverted — the bench showed it a wash (the shingle pass is ~0.1s
    # at sf0.1 and ReusedExchange already covers the symmetric sides),
    # while the eager materialization is a real cost at scale. The
    # winnowing postings case IS worth it because there the re-derived
    # pass dominates (queries.q_dedup_winnowing).
    doc_freq = posting.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
    # rank each doc's shingles rarest-first; keep the prefix any
    # qualifying pair is guaranteed to collide in
    # Both prune predicates carry a 1e-9 slack: threshold * n in doubles
    # can overshoot the exact rational by an ulp at integer boundaries
    # (e.g. 0.07 * 100 = 7.000000000000001), which would shorten the
    # prefix / drop a boundary-qualifying pair that the count strategy
    # returns — the two exact strategies must agree. Pruning may only
    # LOOSEN: the exact Jaccard verify below still decides every pair.
    w = Window.partitionBy("_id").orderBy("_df", "_s")
    prefix = (
        posting.join(doc_freq, "_s")
        .withColumn("_rn", F.row_number().over(w))
        .filter(
            F.col("_rn")
            <= F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n") - F.lit(1e-9)) + 1
        )
        .select("_id", "_n", "_s")
    )
    a = prefix.select(F.col("_id").alias("id_a"), F.col("_n").alias("n_a"), "_s")
    b = prefix.select(F.col("_id").alias("id_b"), F.col("_n").alias("n_b"), "_s")
    cand = (
        a.join(b.hint("merge"), "_s")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.greatest("n_a", "n_b").cast("double") * F.lit(threshold) - F.lit(1e-9)
                <= F.least("n_a", "n_b").cast("double")
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # sh is already hashed: intersect the bigint sets directly.
    return _jaccard_on_pairs(cand, sh).filter(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs_cross(
    new_df: DataFrame,
    old_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_words: int = 3,
    unit: str = "word",
) -> DataFrame:
    """Exact n-gram-Jaccard pairs BETWEEN a new batch and the existing
    corpus (never within either side) — the incremental-ingest dedup
    shape: at 100 TB you dedup each arriving batch against the corpus
    index instead of re-self-joining the whole corpus (work ~ |new| x
    collision rate, not |corpus|^2). Posting join on hashed bigint
    shingles keyed on the shingle; per-pair intersection count ->
    exact Jaccard >= threshold. Returns (id_new, id_old, jaccard).
    """
    sh_new = _hash_shingled(new_df, text_col, id_col, shingle_words, unit)
    sh_old = _hash_shingled(old_df, text_col, id_col, shingle_words, unit)
    pa = sh_new.select(
        F.col("_id").alias("id_new"), F.size("_sh").alias("n_a"), F.explode_outer("_sh").alias("_s")
    )
    pb = sh_old.select(
        F.col("_id").alias("id_old"), F.size("_sh").alias("n_b"), F.explode_outer("_sh").alias("_s")
    )
    return _posting_join_jaccard(pa, pb, threshold, "id_new", "id_old")


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_ppm: int = 600_000,
    shingle_words: int = 3,
    unit: str = "word",
) -> DataFrame:
    """Asymmetric shingle containment C(A->B) = |A n B| / |A| — the
    quote/subset detector symmetric Jaccard misses: a short document
    fully embedded in a long one has low Jaccard (union is large) but
    containment 1.0 from the short side. Standard alongside Jaccard in
    training-data dedup (a doc contained in another is a dup even when
    the host is much longer).

    Same posting-join body as the exact Jaccard ground truth
    (:func:`ngram_jaccard_pairs` 'count' strategy) but WITHOUT the
    half-matrix filter — containment is directional, so both (a,b) and
    (b,a) are scored; the merge hint still collapses the two posting
    scans into one ReusedExchange. The score is emitted ppm-quantized
    (floor(inter*1e6/|A| + 0.5), multiply-before-divide — the hash-safe
    integer shape) and thresholded on the integer, so the filter cannot
    diverge across engines. At 100 TB the candidate generation would be
    the prefix/LSH variants in this module; this exact form is the
    ground truth and the small/medium-corpus path.

    Returns (id_a, id_b, containment_ppm) with id_a != id_b.
    """
    sh = _hash_shingled(df, text_col, id_col, shingle_words, unit)
    posting = sh.select(
        "_id", F.size("_sh").alias("_n"), F.explode_outer("_sh").alias("_s")
    )
    a = posting.select(F.col("_id").alias("id_a"), F.col("_n").alias("n_a"), "_s")
    b = posting.select(F.col("_id").alias("id_b"), "_s")
    joined = a.join(b.hint("merge"), "_s").filter(F.col("id_a") != F.col("id_b"))
    inter = joined.groupBy("id_a", "id_b", "n_a").agg(
        F.count(F.lit(1)).alias("_i")
    )
    ppm = F.floor(
        F.col("_i").cast("double") * 1000000.0 / F.col("n_a") + F.lit(0.5)
    ).cast("bigint")
    return (
        inter.select("id_a", "id_b", ppm.alias("containment_ppm"))
        .filter(F.col("containment_ppm") >= threshold_ppm)
    )


def simhash(col: Column, bits: int = 62, seed: int = 42) -> Column:
    """SimHash of whitespace tokens -> bigint (bits <= 62).

    Per-bit majority vote over portable token hashes; two md5-derived
    32-bit words give 62 usable bits.
    """
    from labelspark_spark.functions.text import whitespace_tokens

    toks = whitespace_tokens(col)
    lo = F.transform(toks, lambda t: base_hash32(t))
    hi = F.transform(toks, lambda t: base_hash32(F.concat(t, F.lit(f"#s{seed}"))))
    def bit_vote(src: Column, shift: int) -> Column:
        # two-parameter merge lambda only: arity-sensitive HOF dispatch
        return F.aggregate(
            src,
            F.lit(0).cast("bigint"),
            lambda acc, h: acc + (F.shiftright(h, shift) % 2) * 2 - 1,
        )

    out = F.lit(0).cast("bigint")
    for b in range(bits):
        vote = bit_vote(lo if b < 31 else hi, b if b < 31 else b - 31)
        out = out + F.when(vote > 0, F.lit(2**b).cast("bigint")).otherwise(F.lit(0))
    return out


def _md5_word32(tokens: list[bytes], suffix: bytes = b"") -> np.ndarray:
    """:func:`base_hash32` of each ``token + suffix`` in Python: the
    first 4 md5 bytes, big-endian, as int64."""
    digests = b"".join(hashlib.md5(t + suffix).digest()[:4] for t in tokens)
    return np.frombuffer(digests, dtype=">u4").astype(np.int64)


def _simhash_rows(tk: pa.Array, bits: int, seed: int) -> np.ndarray:
    """SimHash of each row of one Arrow batch of token lists.

    Each distinct token of the batch is md5-hashed once (the vocabulary
    is Zipf-distributed, so far fewer hashes than tokens): ``lo`` is
    :func:`base_hash32` of the token, ``hi`` that of ``token + "#s<seed>"``;
    bits 0-30 come from ``lo``, bits 31+ from ``hi``. A row's count of
    set bit ``b`` is a difference of one cumulative sum over the flat
    tokens at its offsets, and bit ``b`` of the hash is set iff
    ``2 * count > n_tokens`` — the majority vote of :func:`simhash`. A
    null row or one with no tokens hashes to 0."""
    offsets = _list_offsets(tk)
    enc = pc.dictionary_encode(tk.flatten())
    vocab = enc.dictionary.cast(pa.binary()).to_pylist()
    codes = enc.indices.to_numpy()
    lo = _md5_word32(vocab)
    hi = _md5_word32(vocab, f"#s{seed}".encode())
    n_tok = np.diff(offsets)
    out = np.zeros(len(n_tok), dtype=np.int64)
    for b in range(bits):
        word, shift = (lo, b) if b < 31 else (hi, b - 31)
        c = np.concatenate(([0], np.cumsum(((word >> shift) & 1)[codes])))
        out |= (2 * (c[offsets[1:]] - c[offsets[:-1]]) > n_tok).astype(np.int64) << b
    return out


def _simhash_staged(
    df: DataFrame, text_col: str, id_col: str, bits: int = 62, seed: int = 42
) -> DataFrame:
    """SimHash per document in one Arrow pass per batch: returns
    ``(_id, _h)``, ``_h`` a non-null bigint.

    The JVM tokenizes (:func:`whitespace_tokens`); one ``mapInArrow``
    kernel (:func:`_simhash_rows`) hashes and votes per batch, with no
    shuffle. Hashes equal the :func:`simhash` column function's (pinned
    by tests/test_properties.py::test_simhash_explode_form_matches_hof_fold).
    Both SQL forms are slower: the fold's 62 ``F.aggregate`` lambdas
    evaluate interpreted per token, and an explode + groupBy with 62
    SUM vote columns costs time linear in the column count. One
    output row per input row (ids are unique per document)."""
    from labelspark_spark.functions.text import whitespace_tokens
    from labelspark_spark.sources.readers import spread_to_parallelism

    # spread: tokenizing and the hash kernel would otherwise run in the
    # scan stage, which is one task on the single-row-group sf parquet;
    # on inputs with enough splits it adds nothing to the plan.
    tok = spread_to_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col).alias("_id"), whitespace_tokens(F.col(text_col)).alias("_tk")
    )
    schema = StructType([tok.schema["_id"], StructField("_h", LongType(), nullable=False)])

    def _hash(batches):
        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.array(_simhash_rows(batch.column(1), bits, seed))],
                names=schema.names,
            )

    return tok.mapInArrow(_hash, schema)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two bigint hashes via bit_count(xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 62,
    num_bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs by SimHash with banded blocking.

    Split the hash into ``num_bands`` bit-bands; pairs within
    ``max_hamming`` (< num_bands) must agree on >= 1 whole band
    (pigeonhole), so candidates come from a band-key equi-join.
    Returns (id_a, id_b, hamming).
    """
    # no checkpoint needed: the band self-join's two sides are one
    # subplan, so ReusedExchange runs the hash pass once (a checkpoint
    # would only add a job, ~0.2 s per call on sf0.01 documents)
    hashed = _simhash_staged(df, text_col, id_col, bits, seed)
    band_width = bits // num_bands
    bands = hashed.select(
        "_id",
        "_h",
        # explode_outer: see minhash_lsh_pairs — no inferred size>0
        # filter. Band array always has num_bands rows.
        F.explode_outer(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("_h"), i * band_width)
                        .bitwiseAND(F.lit(2**band_width - 1))
                        .alias("key"),
                    )
                    for i in range(num_bands)
                ]
            )
        ).alias("_b"),
    ).select("_id", "_h", F.col("_b.band").alias("_band"), F.col("_b.key").alias("_key"))
    a = bands.select(F.col("_id").alias("id_a"), F.col("_h").alias("h_a"), "_band", "_key")
    b = bands.select(F.col("_id").alias("id_b"), F.col("_h").alias("h_b"), "_band", "_key")
    return (
        # merge hint: see minhash_lsh_pairs — ReusedExchange computes the
        # band projection once instead of per join side.
        a.join(b.hint("merge"), ["_band", "_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming64(F.col("h_a"), F.col("h_b")).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Dedup-cluster assignment: connected components over a near-dup
    pair list (the step that turns pairwise matches into one canonical
    representative per duplicate group).

    Iterative min-label propagation: every node starts as its own
    component; each round each node takes the minimum label among itself
    and its neighbors; stop when a round changes nothing. Rounds needed =
    graph diameter, which for dedup clusters is tiny (near-dup groups
    are cliques or short chains). Each round is one shuffle
    (join + groupBy on node id); ``localCheckpoint`` truncates the plan
    so lineage doesn't grow with iterations — the standard Spark pattern
    for iterative graph algorithms at scale.

    Returns (id, component) for every node that appears in ``pairs``,
    where component is the minimum reachable node id.

    Warns (``RuntimeWarning``) if the iteration cap is reached while
    labels are still changing — the returned components would be
    unconverged (possible over-segmented clusters).
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    und = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    if max_iterations <= 0:
        # degenerate cap: identity labels, exactly what the loop below
        # started from before iteration 1 was fused (r14)
        return und.select("src").distinct().select(
            F.col("src").alias("id"), F.col("src").alias("comp")
        )
    # Iteration 1 FUSED (r14 optimization round, guide §2.4): with
    # identity starting labels (comp(x) = x), the neighbor-join form
    # below degenerates — every neighbor's label IS its node id — so
    # round 1's min over (self ∪ neighbors) is simply
    # min(src, min(dst)) per src, ONE shuffle-agg over the checkpointed
    # edge list with no join and no materialized identity-label frame.
    # That drops round 1's join AND the init frame's eager checkpoint
    # job (distinct + materialize) per call. Labels and the change flag
    # are identical by construction: comp = least(src, min_dst),
    # own label = src, changed = min_dst < src.
    cur = None
    changed = 0
    for _it in range(max_iterations):
        if cur is None:
            nxt = (
                und.groupBy("src")
                .agg(F.min("dst").alias("_mn"))
                .select(
                    F.col("src").alias("id"),
                    F.least(F.col("src"), F.col("_mn")).alias("comp"),
                    (F.col("_mn") < F.col("src")).alias("_chg"),
                )
            ).localCheckpoint(eager=True)
            changed = nxt.filter(F.col("_chg")).count()
            cur = nxt.drop("_chg")
            if changed == 0:
                break
            continue
        # The change flag rides INSIDE the checkpointed frame (r13
        # optimization round): label monotonicity makes "comp changed"
        # equivalent to "a neighbor had a strictly smaller label", so
        # the old nxt-vs-cur rejoin (one extra join + shuffle + full
        # recompute per iteration, just to count changes) collapses to
        # a cheap scan of the already-materialized checkpoint.
        # NB (second r13 optimization pass): replacing this count()
        # with an `observe` metric on the checkpoint was tried and
        # REVERTED — Observation.get waits on the ASYNC listener bus
        # per iteration, and over this loop's many short iterations
        # that latency exceeds the materialized-scan count it saves
        # (dedup_canonicalize 2.5s -> 3.2-4.0s isolated at sf0.1; the
        # same trick IS a win in bpe_train_iters, whose 3 iterations
        # each replace a real 500k-row scan-agg job).
        # Third r13 optimization pass: the neighbor-min aggregation and
        # the own-label rejoin collapse into ONE aggregation — the own
        # label rides the union as a flagged row, min over (self ∪
        # neighbors) is the same monotone fold, and "changed" is
        # "min over all < own label". One join + one shuffle-agg per
        # iteration instead of join + agg + second join; the fixpoint
        # (min reachable id) and the per-round labels are identical.
        nbr = (
            und.join(cur.select(F.col("id").alias("dst"), "comp"), "dst")
            .select("src", "comp", F.lit(False).alias("_own"))
        )
        nxt = (
            cur.select(F.col("id").alias("src"), "comp", F.lit(True).alias("_own"))
            .unionByName(nbr)
            .groupBy("src")
            .agg(
                F.min("comp").alias("comp"),
                F.min(F.when(F.col("_own"), F.col("comp"))).alias("_oc"),
            )
            .select(
                F.col("src").alias("id"),
                "comp",
                (F.col("comp") < F.col("_oc")).alias("_chg"),
            )
        ).localCheckpoint(eager=True)
        changed = nxt.filter(F.col("_chg")).count()
        cur = nxt.drop("_chg")
        if changed == 0:
            break
    if changed != 0:
        import warnings

        warnings.warn(
            f"connected_components hit max_iterations={max_iterations} with "
            f"{changed} labels still changing; components are unconverged",
            RuntimeWarning,
            stacklevel=2,
        )
    return cur


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    dim: int = 64,
) -> DataFrame:
    """Embedding near-dup pairs: cosine >= threshold.

    Brute-force O(n^2/2) self-join — correct baseline for verification;
    at 100 TB use :func:`labelspark_spark.operators.similarity.lsh_ann`
    buckets to block first.
    Returns (id_a, id_b, cos) rounded to 6 dp.
    """
    from labelspark_spark.functions.vectors import cosine_from_parts, dot_expr, norm_expr

    # norms hoisted per ROW (n folds), not per PAIR (n^2/2 folds)
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        norm_expr(vec_col, dim).alias("_na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        norm_expr(vec_col, dim).alias("_nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_from_parts(dot_expr("_va", "_vb", dim), F.col("_na"), F.col("_nb")),
                6,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def _pair_cos6(m_a: np.ndarray, m_b: np.ndarray) -> np.ndarray:
    """Row-wise cosine of two float64 matrices (einsum dot over the
    einsum/sqrt norms; a zero norm scores 0.0), rounded HALF_UP away
    from zero to 6 dp — sign-aware, so negative cosines round like
    Spark's ``F.round``, not toward +inf."""
    dots = np.einsum("ij,ij->i", m_a, m_b)
    den = np.sqrt(np.einsum("ij,ij->i", m_a, m_a)) * np.sqrt(np.einsum("ij,ij->i", m_b, m_b))
    with np.errstate(divide="ignore", invalid="ignore"):
        out = np.where(den == 0, 0.0, dots / den)
    return np.sign(out) * np.floor(np.abs(out) * 1e6 + 0.5) / 1e6


def _triu_chunks(n: int, step: int):
    """Yield ``np.triu_indices(n, 1)``'s (row, col) pairs in the same
    row-major order, ``step`` pairs at a time, without materializing
    the O(n^2) index arrays: row i owns pairs (i, i+1..n-1), so a
    searchsorted of each global pair offset over the per-row start
    offsets recovers its row. Peak index memory is O(n + step)."""
    total = n * (n - 1) // 2
    row_starts = np.concatenate(([0], np.cumsum(np.arange(n - 1, 0, -1, dtype=np.int64))[:-1]))
    for s in range(0, total, step):
        p = np.arange(s, min(s + step, total), dtype=np.int64)
        qs = np.searchsorted(row_starts, p, side="right") - 1
        yield qs, p - row_starts[qs] + qs + 1


def _verify_pairs_cosine(
    cand: DataFrame,
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact-cosine verification of blocked candidate pairs, Arrow-batched.

    The candidate ids rejoin the (broadcastable) vector side, then ONE
    vectorized numpy pass scores each pair: two einsum norms + a dot,
    rounded to 6 dp. A pure-SQL scoring expression here is a trap:
    Catalyst pushes the ``cos >= threshold`` filter into the broadcast
    join as a residual condition, so the dim-length dot is evaluated
    TWICE per pair (condition + output projection) — measured ~10s of
    the 14.5s sf0.1 runtime. The Python eval node is a natural pushdown
    barrier: each pair is scored exactly once, and numpy does the math
    at BLAS speed on raw float32 arrays (half the Arrow bytes of the
    cast-to-double SQL path).

    float64 accumulation order differs from the sequential SQL fold by
    ~1 ulp; a candidate at |cos - threshold| ~ 1e-15 could flip — the
    exact-verify-subset invariant is probabilistic at that epsilon, as
    with any float reduction reorder. Rounding is floor(x*1e6 + 0.5)
    (the repo's cross-engine HALF_UP shape), NOT np.round: half-even
    would systematically diverge from the brute-force twin's
    ``F.round`` at 6-dp half boundaries (np.round(0.9500005, 6) ->
    0.95 vs Spark 0.950001 — r11 review); the floor form agrees with
    Spark everywhere except within ~1 ulp of a half boundary, the same
    epsilon class as the accumulation caveat above.
    """
    vecs = df.select(F.col(id_col).alias("_vid"), F.col(vec_col).alias("_v"))
    a = vecs.toDF("id_a", "_va")
    b = vecs.toDF("id_b", "_vb")

    @F.pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        return pd.Series(
            _pair_cos6(
                np.vstack(va.to_numpy()).astype(np.float64),
                np.vstack(vb.to_numpy()).astype(np.float64),
            )
        )

    scored = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", _cos("_va", "_vb").alias("cos"))
    )
    return scored.filter(F.col("cos") >= threshold)


def embedding_dup_pairs_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    dim: int = 64,
    num_planes: int = 6,
    num_tables: int = 8,
    seed: int = 42,
    sig_bits: int = 384,
    prefilter_sigma: float = 3.0,
) -> DataFrame:
    """Embedding near-dup pairs, LSH-blocked — the 100 TB path.

    OR-construction over ``num_tables`` independent hyperplane bucket
    tables: candidates are pairs sharing a bucket in ANY table
    (equi-join on a single bigint (table, bucket) key — shuffle keyed on
    buckets, never all-pairs), then every candidate is cosine-VERIFIED,
    so false positives cost a verify, never a wrong answer.

    Recall for cos >= t with angle θ=acos(t): per-plane collision
    p=1-θ/π, per-table p^b, overall 1-(1-p^b)^L. Defaults (b=6, L=8)
    give ~0.99 at cos=0.95. :func:`embedding_dup_pairs` (brute force)
    stays as the recall oracle in tests.

    Between blocking and the exact verify sits a JVM-side HAMMING
    PREFILTER over a ``sig_bits``-plane sign signature (random
    hyperplane / SRP sketch, Charikar STOC'02): a pair at cosine t has
    expected disagreeing-bit fraction θ(t)/π, so candidates whose
    measured fraction exceeds that mean by ``prefilter_sigma`` binomial
    std-devs are pruned before the Arrow hop. At coarse thresholds
    (e.g. 0.4, where 3-plane buckets retain ~70% of ALL pairs) this
    kills ~99% of junk candidates for ~0.1% true-pair loss (3σ), and it
    runs BEFORE the pair-distinct so the dedup shuffle shrinks with it.
    Signature words ride the bucket shuffle as ``sig_bits/64`` bigints;
    the hamming sum is pure ``bit_count(xor)`` fold — no Python, no
    vectors, until the surviving ~1% reach the exact verify (which
    keeps false_positives = 0 regardless). ``sig_bits=0`` disables.
    """
    import math

    from labelspark_spark.operators.similarity import _hyperplanes

    # All num_tables * num_planes plane dots in ONE Arrow-batched numpy
    # matmul (vectorized Pandas UDF). The pure-codegen alternative — the
    # planes folded in as double literals — builds a ~dim*planes*tables
    # term expression tree that blows past the whole-stage-codegen method
    # limit (4 MiB task binaries, janino fallback, interpreted eval:
    # measured 14.5s for the signature stage alone at sf0.1); the matmul
    # is O(n*dim*planes) BLAS with one small Arrow hop per batch. Sign
    # flips vs the sequential fold can only occur at |dot| ~ fp-epsilon,
    # which moves a vector between buckets but never past the exact
    # cosine VERIFY below — results stay a subset of the true pairs.
    planes = np.array(
        [_hyperplanes(dim, num_planes, seed + t) for t in range(num_tables)],
        dtype=np.float64,
    ).reshape(num_tables * num_planes, dim)
    weights = (2 ** np.arange(num_planes)).astype(np.int64)
    n_tables = num_tables
    if sig_bits and (sig_bits < 64 or sig_bits % 64):
        # 1-63 would silently disable the prefilter; non-multiples would
        # silently truncate — both defeat the sketch's purpose unnoticed
        raise ValueError(
            f"sig_bits must be 0 (disabled) or a positive multiple of 64, got {sig_bits}"
        )
    n_words = max(sig_bits, 0) // 64
    sig_bits = n_words * 64
    # independent plane family for the sketch (seed offset past any
    # plausible table count) — bucket planes reused as sketch bits would
    # bias the measured fraction low on colliding pairs
    sig_planes = np.array(
        _hyperplanes(dim, sig_bits, seed + 7919) if n_words else [],
        dtype=np.float64,
    ).reshape(sig_bits, dim)
    w64 = 1 << np.arange(64, dtype=np.uint64)

    @F.pandas_udf("bk array<long>, sig array<long>")
    def _keys(vs: pd.Series) -> pd.DataFrame:
        if len(vs) == 0:
            return pd.DataFrame({"bk": [], "sig": []})
        m = np.vstack(vs.to_numpy()).astype(np.float64)
        signs = (m @ planes.T >= 0).astype(np.int64)
        bk = signs.reshape(len(vs), n_tables, -1) @ weights
        if n_words:
            s = (m @ sig_planes.T >= 0).astype(np.uint64)
            # pack 64 sign bits per word; uint64 view -> Spark long
            words = (s.reshape(len(vs), n_words, 64) * w64).sum(axis=2)
            sig = list(words.view(np.int64))
        else:
            sig = [np.zeros(0, dtype=np.int64)] * len(vs)
        return pd.DataFrame({"bk": list(bk), "sig": sig})

    # one bigint key per table: xxhash64(table_idx, bucket) — same trick
    # as the minhash band keys (single-bigint shuffle key); posexplode
    # supplies the table index. Only ids + the small sig words cross the
    # bucket shuffle; vectors rejoin onto the surviving candidates.
    keyed = df.select(F.col(id_col).alias("_id"), _keys(F.col(vec_col)).alias("_k"))
    buckets = keyed.select(
        "_id",
        F.col("_k.sig").alias("_sig"),
        F.posexplode_outer("_k.bk").alias("_t", "_b"),
    ).select("_id", "_sig", F.xxhash64("_t", "_b").alias("_key"))
    # self-join via alias; exchange reuse does NOT trigger here (PythonUDF
    # result-ids defeat plan canonicalization), so the bucket/signature
    # UDF runs once per side — acceptable: it's one BLAS matmul over the
    # corpus, dwarfed by the pair expansion it prevents downstream
    lhs = buckets.alias("L")
    rhs = buckets.alias("R")
    cond = (F.col("L._key") == F.col("R._key")) & (F.col("L._id") < F.col("R._id"))
    if n_words:
        frac = math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
        cutoff = math.floor(
            frac * sig_bits
            + prefilter_sigma * math.sqrt(max(frac * (1 - frac) * sig_bits, 0.0))
        )
        # unrolled per-word sum: n_words is a build-time constant, and the
        # explicit bit_count(xor) terms stay inside whole-stage codegen
        # (zip_with/aggregate HOFs drop to interpreted eval per pair).
        # The prune rides INSIDE the join condition: failing pairs die in
        # the sort-merge inner loop instead of materializing 10x-per-pair
        # wide rows for a downstream filter — and everything surviving
        # shrinks the pair-distinct shuffle too.
        hamming = sum(
            (
                F.bit_count(
                    F.col("L._sig")[w].bitwiseXOR(F.col("R._sig")[w])
                )
                for w in range(n_words)
            ),
            F.lit(0),
        )
        cond = cond & (hamming <= F.lit(int(cutoff)))
    cand = (
        lhs.join(rhs.hint("merge"), cond)
        .select(F.col("L._id").alias("id_a"), F.col("R._id").alias("id_b"))
        .distinct()
    )
    return _verify_pairs_cosine(cand, df, vec_col, id_col, threshold)


def embedding_dup_pairs_ivf(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.4,
    k: int = 32,
    nprobe: int = 2,
    dim: int = 64,
    max_iters: int = 3,
) -> DataFrame:
    """Cell-blocked (canopy-style / IVF) embedding near-dup pairs — the
    scale path for LOW cosine thresholds.

    Hyperplane LSH cannot block the ~0.4 band: per-plane collision at
    cos 0.4 is 1 - acos(0.4)/pi ~ 0.63, so any plane count b that prunes
    (2^b buckets) also kills recall (per-table 0.63^b), and restoring
    recall needs ~0.63^-b tables — erasing the pruning. Clustered
    corpora keep near pairs in the same k-means cell regardless of the
    threshold, so the CELL id is the blocking key instead: in-engine
    k-means fit (driver sees only k*dim floats), nprobe-cell assignment,
    candidates = vectors sharing a probed cell (bucket equi-join keyed
    on cell id — never all-pairs), exact cosine verify after.

    Verify cost ~ sum of squared cell sizes ~ (nprobe * n)^2 / k: pick
    k ~ n / target_cell_size and the work scales linearly with data.
    Under that rule the k-means FIT is the next quadratic piece
    (O(n*k*d) per iteration = O(n^2*d/cell_size)); kmeans_fit switches
    to a two-level coarse->local fit past k=64 so the fit stays
    O(n*sqrt(k)*d) — measured two-decade curve in SURVEY §6.
    :func:`embedding_dup_pairs` (brute force) stays the recall oracle
    (tests/test_approx_recall.py).
    """
    from labelspark_spark.operators.similarity import _assign_to_centroids, kmeans_fit

    cents = kmeans_fit(
        df, k=k, dim=dim, max_iters=max_iters, vec_col=vec_col, id_col=id_col
    )
    cent = F.broadcast(
        cents.select(F.col("centroid_id").alias("_cid"), F.col("centroid").alias("_cvec"))
    )
    # CELL-LOCAL scoring (r13 optimization round, guide §8): the old
    # shape shipped ids through a cell self-join, then re-attached BOTH
    # 64-dim vectors to every candidate pair for the Arrow verify — at
    # nprobe=4/k=16 that was ~1.4M pairs x 2 vectors (~0.7 GB over two
    # joins + the Python hop; measured 3.9s of the 5.1s at sf0.1).
    # Every candidate pair lives inside a probed cell by construction,
    # so score each cell's half-matrix IN the cell with one Arrow pass:
    # each vector crosses the wire once per assigned cell (nprobe*n
    # rows, ~2 MB here), pairs never carry payloads, and the threshold
    # prunes inside the kernel so only qualifying pairs (not 1.4M
    # candidates) ever hit the pair-distinct shuffle. This is the
    # inverted-list scoring shape ANN systems use at scale; per-cell
    # memory is the same bounded-cell-size contract as the k ∝ n rule
    # (and the hierarchical fit's applyInPandas documents the identical
    # caveat for degenerate corpora).
    #
    # Bit-parity with _verify_pairs_cosine: the kernel expands the pair
    # index lists and scores them with the same _pair_cos6 on the same
    # float64 values, so every cos is identical and multi-cell
    # duplicates agree exactly — the dropDuplicates keeps one copy.
    # NB (r13 optimization round): spreading df before the assignment
    # UDF was tried and reverted — ~0.2s of per-task Arrow round-trip
    # for tiny batches on a small vector table; the groupBy("_cid")
    # below already shuffles to cell-parallel execution for the heavy
    # scoring stage, which is where the time goes.
    assigned = _assign_to_centroids(df, cent, id_col, vec_col, nprobe, "_id", dim)

    def _cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pd.array([], dtype="int64"),
                "id_b": pd.array([], dtype="int64"),
                "cos": pd.array([], dtype="float64"),
            }
        )
        n = len(pdf)
        if n < 2:
            return empty
        order = np.argsort(pdf["_id"].to_numpy(), kind="stable")
        ids = pdf["_id"].to_numpy()[order]
        m = np.vstack(pdf["_v"].to_numpy()[order]).astype(np.float64)
        # chunk the pair-expanded einsum: a hot cell's half-matrix can
        # be millions of pairs, and expanding m[qi]/m[ci] all at once
        # allocates pairs x dim x 8 B x 2 of temporaries (GBs). The
        # per-pair chain is row-local, so every cos bit matches the
        # unchunked form regardless of step. Step sizing:
        # 2^13 pairs keeps each fancy-index temporary at 4 MB, UNDER
        # the allocator's mmap threshold, so chunk buffers are reused
        # from the arena; the original 2^18 (134 MB per side) made
        # every chunk a fresh mmap/munmap — with ~16 of these kernels
        # running concurrently the page-fault/TLB churn dominated the
        # stage (measured in-bench-context at sf0.1: scored-stage 4.4-
        # 13.8s at 2^18 -> 1.2s at 2^13; isolated runs hid it). The
        # extra per-chunk numpy-call overhead is noise: ~5 einsum calls
        # per 4 MB of flops.
        #
        outs = []
        for qs, cs in _triu_chunks(n, 1 << 13):
            cos = _pair_cos6(m[qs], m[cs])
            keep = cos >= threshold
            outs.append(
                pd.DataFrame(
                    {"id_a": ids[qs[keep]], "id_b": ids[cs[keep]], "cos": cos[keep]}
                )
            )
        return pd.concat(outs, ignore_index=True) if outs else empty

    scored = assigned.groupBy("_cid").applyInPandas(
        _cell_pairs, "id_a bigint, id_b bigint, cos double"
    )
    return scored.dropDuplicates(["id_a", "id_b"])
