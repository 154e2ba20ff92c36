"""Property-based round-trip checks (SURVEY §5): to_json∘from_json = id,
flatten∘nest = id on array-free schemas, normalize idempotence,
fingerprint ⇔ normalized equality. Few examples per property — each
example is a Spark job; the lists inside each example carry the variety.
"""

from __future__ import annotations

from contextlib import contextmanager

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from labelspark_spark.functions.text import fingerprint, normalize_text
from labelspark_spark.operators.flatten import flatten_structs, schema_paths

# printable-ish unicode, no surrogates; JSON round-trips must hold for it
_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs", "Cc")), max_size=80
)
_settings = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@_settings
@given(rows=st.lists(st.tuples(_text, st.integers(-(2**31), 2**31 - 1)), min_size=1, max_size=25))
def test_json_roundtrip_identity(spark, rows):
    df = spark.createDataFrame(rows, "s string, n long")
    packed = df.select(F.struct("s", "n").alias("v"))
    back = packed.select(
        F.from_json(F.to_json("v"), "struct<s:string,n:bigint>").alias("v")
    ).select("v.s", "v.n")
    assert back.exceptAll(df).count() == 0 and df.exceptAll(back).count() == 0


@_settings
@given(rows=st.lists(st.tuples(_text, st.integers(0, 10**6), _text), min_size=1, max_size=25))
def test_flatten_then_nest_identity(spark, rows):
    df = spark.createDataFrame(rows, "a string, b long, c string")
    nested = df.select(F.struct(F.struct("a", "b").alias("inner"), "c").alias("top"))
    flat = flatten_structs(nested)
    assert set(flat.columns) == {"top.inner.a", "top.inner.b", "top.c"}
    renest = flat.select(
        F.col("`top.inner.a`").alias("a"),
        F.col("`top.inner.b`").alias("b"),
        F.col("`top.c`").alias("c"),
    )
    assert renest.exceptAll(df).count() == 0 and df.exceptAll(renest).count() == 0


@_settings
@given(texts=st.lists(_text, min_size=1, max_size=25))
def test_normalize_idempotent_and_fingerprint_consistent(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    bad = df.select(
        (normalize_text(normalize_text(F.col("t"))) != normalize_text(F.col("t"))).alias("diff"),
        (
            (fingerprint(F.col("t")) == fingerprint(F.concat(F.lit(" "), F.col("t"), F.lit("  "))))
            == F.lit(True)
        ).alias("ws_invariant"),
    )
    rows = bad.collect()
    assert not any(r.diff for r in rows)
    assert all(r.ws_invariant for r in rows)


def test_schema_paths_total_over_nested_schema(spark):
    # every leaf path enumerated exactly once, arrays descended
    df = spark.createDataFrame(
        [(1, ((2, "x"), [({"k": "v"}, 3)]))],
        "id long, top struct<inner:struct<p:long,q:string>, arr:array<struct<m:map<string,string>,n:long>>>",
    )
    paths = schema_paths(df.schema)
    assert set(paths) == {
        "id",
        "top.inner.p",
        "top.inner.q",
        "top.arr.m",
        "top.arr.n",
    }


def _cdc_cuts(s: str, B: int = 31, M: int = 1000003, W: int = 8, MASK: int = 64):
    """Pure-Python twin of q_content_defined_chunks' positional rolling
    hash (identical constants) for property checking."""
    out = []
    for i in range(W, len(s) + 1):  # 1-based end position i
        h = 0
        for k in range(W):
            h += ord(s[i - W + k]) * (B ** (W - 1 - k))
        if (h % M) % MASK == 0:
            out.append(i)
    return out


@given(
    st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=120),
    st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=60),
)
@settings(max_examples=60, deadline=None)
def test_cdc_cut_stability_under_prefix_edits(suffix, prefix):
    """THE content-defined-chunking property (why CDC beats fixed-size
    for dedup): a cut depends only on the W=8 chars ending at it, so
    prepending arbitrary content shifts every cut that lies fully
    inside the old text by exactly len(prefix) — the chunks of shared
    content realign no matter what was inserted upstream. (Fixed-size
    chunking shifts every boundary and re-chunks everything.)"""
    cuts_plain = _cdc_cuts(suffix)
    cuts_joined = _cdc_cuts(prefix + suffix)
    p = len(prefix)
    # cuts whose 8-char window lies fully inside `suffix`
    expected = {c + p for c in cuts_plain if c >= 8}
    inside = {c for c in cuts_joined if c - p >= 8}
    assert inside == expected


def test_cdc_python_twin_matches_spark(spark):
    """The pure-Python twin used by the property test computes the
    same cuts as the Spark expression in q_content_defined_chunks."""
    from labelspark_spark.queries import q_content_defined_chunks

    from .conftest import SF_SMOKE

    out = {
        r.doc_id: (r.n_cuts, r.first_cut, r.last_cut)
        for r in q_content_defined_chunks(spark, SF_SMOKE).collect()
    }
    import duckdb  # noqa: F401  (texts come straight from parquet)
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "text"])
    for doc_id, text in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()):
        if len(text) < 8:
            continue
        cuts = _cdc_cuts(text)
        exp = (len(cuts), cuts[0] if cuts else -1, cuts[-1] if cuts else -1)
        assert out[doc_id] == exp, (doc_id, out[doc_id], exp)


@given(
    pred0=st.integers(-32768, 32767),
    idx0=st.integers(0, 88),
    nibbles=st.lists(st.integers(0, 15), min_size=1, max_size=200),
)
@settings(max_examples=120, deadline=None)
def test_ima_adpcm_differential_vs_audioop(pred0, idx0, nibbles):
    """Differential property test: ima_adpcm_expand agrees bit-for-bit
    with CPython's audioop adpcm2lin (the DVI/IMA reference
    implementation) for ARBITRARY initial state and nibble streams —
    not just the closed-form fixtures the oracle replays. audioop packs
    HIGH nibble first; IMA WAV (and our decoder) packs LOW first, so
    the check feeds audioop a repacked fragment."""
    import struct

    try:
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("ignore", DeprecationWarning)
            import audioop
    except ImportError:
        import pytest

        pytest.skip("audioop removed (3.13+); fixture oracle still pins the loop")

    from labelspark_spark.operators.multimodal import ima_adpcm_expand

    mine = ima_adpcm_expand(pred0, idx0, nibbles)[1:]
    padded = nibbles + ([0] if len(nibbles) % 2 else [])
    frag = bytes(
        ((padded[i] << 4) | padded[i + 1]) for i in range(0, len(padded), 2)
    )
    lin, _ = audioop.adpcm2lin(frag, 2, (pred0, idx0))
    vals = list(struct.unpack(f"<{len(lin) // 2}h", lin))[: len(nibbles)]
    assert vals == mine


@given(blob=st.one_of(st.none(), st.binary(max_size=400)))
@settings(max_examples=150, deadline=None)
def test_codec_robustness_arbitrary_bytes(blob):
    """At corpus scale the decoders face arbitrary bytes; every codec
    must refuse garbage with an all-None result, never an exception.
    Fuzzes the WAV family (PCM16, G.711, IMA-ADPCM), the image
    decoders, and the container walkers on arbitrary (and truncated
    RIFF-prefixed) input."""
    from labelspark_spark.operators import multimodal as mm

    decoders = [
        mm.parse_wav_header,
        mm.wav_decode_samples,
        mm.wav_decode_samples_g711,
        mm.wav_decode_samples_adpcm,
        lambda c: mm.wav_resample_linear_feats(c, 3, 4),
        mm.png_decode,
        mm.bmp_decode,
        mm.parse_mp4_header,
        mm.parse_exif,
        mm.parse_tiff_header,
        mm.parse_image_header,
    ]
    for variant in (blob, (b"RIFF" + blob + b"WAVE" if blob else blob)):
        for dec in decoders:
            dec(variant)  # must not raise, whatever the shape


@given(
    blob=st.one_of(st.none(), st.binary(max_size=200)),
    l_up=st.integers(min_value=-4, max_value=4),
    m_down=st.integers(min_value=-4, max_value=4),
)
@settings(max_examples=100, deadline=None)
def test_resample_ratio_params_robust(blob, l_up, m_down):
    """The ratio params are caller input too: l_up=0 used to
    ZeroDivisionError and m_down<=0 looped nonsensically inside the
    Arrow batch on executors. Non-positive ratios must get the same
    all-None refusal as malformed bytes (r7 advice)."""
    from labelspark_spark.operators import multimodal as mm

    out = mm.wav_resample_linear_feats(blob, l_up, m_down)
    assert isinstance(out, dict)
    if l_up <= 0 or m_down <= 0:
        assert out == {"n_in": None, "n_out": None, "sum_out": None, "chk_out": None}


def _soundex_classic(w: str) -> str:
    """The textbook American Soundex (the definition Spark's JVM
    soundex implements): keep the first letter; h/w are transparent
    for adjacency; vowels reset; collapse adjacent duplicate codes;
    drop a leading code equal to the first letter's; zero-pad to 4."""
    code = {
        **{c: "1" for c in "bfpv"}, **{c: "2" for c in "cgjkqsxz"},
        **{c: "3" for c in "dt"}, "l": "4", **{c: "5" for c in "mn"}, "r": "6",
    }
    out = w[0].upper()
    prev = code.get(w[0], "")
    for ch in w[1:]:
        if ch in "hw":
            continue
        c = code.get(ch, "")
        if c and c != prev:
            out += c
            if len(out) == 4:
                break
        prev = c
    return (out + "000")[:4]


@given(words=st.lists(st.text(alphabet="abcdefghijklmnopqrstuvwxyz",
                              min_size=2, max_size=12),
                      min_size=1, max_size=40, unique=True))
@settings(max_examples=60, deadline=None)
def test_soundex_duckdb_twin_matches_classic(words):
    """The DuckDB soundex reimplementation that oracles
    `phonetic_blocking` (queries.SOUNDEX_DUCK_CTE) must match the
    classic algorithm on ARBITRARY words, not just the corpus
    vocabulary — the corpus has ~30 distinct tokens, far too few to
    pin h/w transparency and leading-code collapse on their own.
    (Spark's soundex is checked against the same classic definition
    by the registry parity of phonetic_blocking.)"""
    import duckdb

    from labelspark_spark.queries import SOUNDEX_DUCK_CTE

    vals = ", ".join(f"('{w}')" for w in words)
    sql = (
        f"WITH keep AS (SELECT * FROM (VALUES {vals}) AS v(t)),\n"
        + SOUNDEX_DUCK_CTE
        + "SELECT t, sx FROM sxt"
    )
    got = dict(duckdb.connect().execute(sql).fetchall())
    assert got == {w: _soundex_classic(w) for w in words}


@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=10),
    data=st.data(),
)
@settings(max_examples=60, deadline=None)
def test_bmp_encode_decode_roundtrip_property(w, h, data):
    """bmp_encode_gray24/bmp_decode round-trip EXACTLY for every
    width (all four stride paddings) and height: decoded pixels are the
    encoder's gray values as equal BGR triples in top-down order."""
    from labelspark_spark.operators.multimodal import bmp_decode, bmp_encode_gray24

    px = bytes(
        data.draw(st.lists(st.integers(0, 255), min_size=w * h, max_size=w * h))
    )
    blob = bmp_encode_gray24(px, w, h)
    out = bmp_decode(blob)
    assert out is not None
    dw, dh, ch, pix = out
    assert (dw, dh, ch) == (w, h, 3)
    assert pix[0::3] == px and pix[1::3] == px and pix[2::3] == px


@given(
    n=st.integers(min_value=1, max_value=60),
    ratio=st.integers(min_value=1, max_value=5),
    data=st.data(),
)
@settings(max_examples=60, deadline=None)
def test_resample_identity_ratio_property(n, ratio, data):
    """Rational resampling at l_up == m_down is the identity: the
    linear interpolator must hit every input sample exactly (n_out ==
    n_in, same sum, same order-weighted checksum as the raw signal)."""
    import struct

    from labelspark_spark.operators import multimodal as mm

    samples = data.draw(
        st.lists(st.integers(-32768, 32767), min_size=n, max_size=n)
    )
    pcm = struct.pack(f"<{n}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    out = mm.wav_resample_linear_feats(wav, ratio, ratio)
    assert out["n_in"] == n and out["n_out"] == n
    assert out["sum_out"] == sum(samples)
    assert out["chk_out"] == sum((j + 1) * v for j, v in enumerate(samples))


def test_triangle_orientation_matches_brute_force_on_random_graphs(spark):
    """count_triangles_oriented (the census scale path, r9): on random
    graphs — including hub-skewed ones, where the degree orientation
    actually matters — the (n_nodes, n_edges, n_triangles) row must
    equal a Python brute force over all id-ordered triples. Seeded
    LCG graphs, no hypothesis: each example is a Spark job."""
    from itertools import combinations

    from labelspark_spark.queries import count_triangles_oriented

    def lcg(seed):
        s = seed
        while True:
            s = (s * 1103515245 + 12345) % (2**31)
            yield s

    # big_ids=True remaps node ids past 2^32 AND negative — the ranges
    # that silently corrupted the r9 packed degree*2^32+id ordering
    # (r9 ADVICE); the struct-ordered orientation must stay exact there.
    for seed, n, density, big_ids in (
        (1, 12, 0.5, False),
        (2, 20, 0.25, False),
        (3, 25, 0.12, False),
        (4, 8, 0.9, False),
        (2, 20, 0.25, True),
    ):
        g = lcg(seed)
        edges = sorted(
            {(a, b) for a, b in combinations(range(n), 2) if next(g) % 1000 < density * 1000}
        )
        # hub-skew variant: wire node 0 to everything
        edges = sorted(set(edges) | {(0, v) for v in range(1, n)})
        if big_ids:
            remap = lambda v: (v - n // 2) * (2**33 + 7)  # noqa: E731
            edges = sorted((min(remap(a), remap(b)), max(remap(a), remap(b))) for a, b in edges)
            n_ids = sorted({v for e in edges for v in e})
            adjmap = {v: i for i, v in enumerate(n_ids)}
            # brute force below runs on range(n); rebuild edges in both
            # spaces: remapped for Spark, dense for the brute force
            dense_edges = sorted(
                (min(adjmap[a], adjmap[b]), max(adjmap[a], adjmap[b])) for a, b in edges
            )
        else:
            dense_edges = edges
        adj = {v: set() for v in range(n)}
        for a, b in dense_edges:
            adj[a].add(b)
            adj[b].add(a)
        expected_tri = sum(
            1 for a, b, c in combinations(range(n), 3) if b in adj[a] and c in adj[a] and c in adj[b]
        )
        expected_nodes = len({v for e in edges for v in e})
        df = spark.createDataFrame(edges, "a bigint, b bigint")
        row = count_triangles_oriented(df).collect()[0]
        assert (row.n_nodes, row.n_edges, row.n_triangles) == (
            expected_nodes,
            len(edges),
            expected_tri,
        ), f"seed={seed}: got {row}, want ({expected_nodes},{len(edges)},{expected_tri})"


@contextmanager
def _arrow_batch_rows(spark, rows):
    """Scope spark.sql.execution.arrow.maxRecordsPerBatch, so Arrow
    kernels see batch boundaries inside a small frame."""
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, str(rows))
    try:
        yield
    finally:
        spark.conf.set(conf, old)


def test_simhash_explode_form_matches_hof_fold(spark):
    """The Arrow-kernel simhash (_simhash_staged) and the original
    HOF-fold column function (simhash) are two physical forms of one
    definition — per-doc hashes must be equal (null-safe, one row per
    doc) on texts covering null, empty, whitespace-only, single-token,
    duplicate-token, multi-byte UTF-8 and long-mixed cases, on a frame
    where no doc has a token, and on an empty frame. A 7-row Arrow
    batch size puts batch boundaries inside every frame."""
    from pyspark.sql import functions as F

    from labelspark_spark.operators import dedup

    texts = [
        "", "one", "a a a a", "the quick brown fox jumps over the lazy dog",
        "x " * 40, "alpha beta gamma delta epsilon zeta eta theta",
        "repeat repeat repeat unique", "  leading and   inner   spaces  ",
        None, "   ", "\t\n  \r", "héllo wörld ünïcode", "日本語 の テキスト 日本語",
        "emoji 😀 😀 party ❄", None,
    ] + [f"doc {i} token{i % 7} filler word{i % 3} end" for i in range(30)]
    no_tokens = [None, "", " ", "\t", "  \n  ", None, "", "   "]
    with _arrow_batch_rows(spark, 7):
        for rows in (texts, no_tokens, []):
            df = spark.createDataFrame(list(enumerate(rows)), "doc_id int, text string")
            fold = df.select("doc_id", dedup.simhash(F.col("text")).alias("h_fold"))
            staged = dedup._simhash_staged(df, "text", "doc_id").withColumnRenamed("_h", "h_staged")
            joined = fold.join(staged, fold.doc_id == staged._id).collect()
            assert len(joined) == len(rows)
            assert all(r.h_fold == r.h_staged for r in joined)
            if rows is no_tokens:
                assert {r.h_staged for r in joined} == {0}


def test_minhash_mins_kernel_matches_sql_min(spark):
    """The Arrow-kernel MinHash signature (_minhash_signatures) equals
    the SQL form it replaced — explode_outer + groupBy with one
    min((a*h+b) % p) per permutation, written out here as the
    reference — over the same _hash_shingled frame, plus rows whose
    shingle list is empty or null (null mins on both sides), across
    7-row Arrow batches, and on an empty frame."""
    from pyspark.sql import functions as F

    from labelspark_spark.operators import dedup

    texts = [
        "one", "a a a a", "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy dog today", "", "   ",
        "héllo wörld ünïcode ☃ 雪 ❄", "x " * 40, "two words", None,
    ] + [f"doc {i} token{i % 7} filler word{i % 3} end" for i in range(20)]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    sh = dedup._hash_shingled(docs, "text", "doc_id", 3).unionByName(
        spark.createDataFrame([(1000, []), (1001, None)], "_id bigint, _sh array<bigint>")
    )
    params = dedup._perm_params(32, 42)

    def reference(frame):
        ex = frame.select(
            "_id",
            F.expr("explode_outer(transform(_sh, h -> shiftrightunsigned(h, 32))) AS _h"),
        )
        return ex.groupBy("_id").agg(
            *[
                F.expr(f"min(({a} * _h + {b}) % {dedup.MINHASH_PRIME}) AS _m{i}")
                for i, (a, b) in enumerate(params)
            ]
        )

    with _arrow_batch_rows(spark, 7):
        got = dedup._minhash_signatures(sh, 32, 42).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, reference(sh).collect()))
        assert dedup._minhash_signatures(sh.limit(0), 32, 42).collect() == []
    by_id = {r[0]: r[1:] for r in got}
    assert by_id[1000] == by_id[1001] == (None,) * 32
    assert all(v is not None for i, m in by_id.items() if i < 1000 for v in m)
