"""Seeded input generators with planted truth, one per workload.

Every knob that shapes an input lives here, in the benchmark; the
package under test only ever sees the generated frames, label exports
and transport state. The same seed always yields the same inputs, and
each generator also returns the truth the workload checks outputs
against (expected spool keys, object totals, planted duplicate pairs).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

DIVIDER = "///"
_SUFFIX = re.compile(re.escape(DIVIDER) + r"(\d+)$")


def strip_suffix(key: str) -> str:
    """``base///n`` -> ``base`` (the upsert family of a global key)."""
    return _SUFFIX.sub("", key)


# --------------------------------------------------------------------------
# label_upload
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class UploadKnobs:
    batch_rows: int = 4000
    initial_spool_rows: int = 8000
    # share of each batch's keys drawn from keys already in the spool
    existing_share: float = 0.3
    rounds_per_epoch: int = 3


UPLOAD_COLUMNS = [
    "row_data",
    "key",
    "metadata///string///source",
    "metadata///number///score",
    "metadata///enum///split",
    "metadata///datetime///captured_at",
    "attachment///raw_text///note",
    "attachment///image///thumb",
    "annotation///bbox///car",
    "annotation///radio///weather",
]


def _spool_record(key: str, dataset_id: str) -> dict:
    """A posted row in the shape ``create_data_rows_from_table`` spools."""
    return {
        "data_row": {
            "row_data": f"https://assets.example/{key}.jpg",
            "global_key": key,
            "external_id": key,
            "metadata_fields": [{"name": "source", "value": "seed", "type": "string"}],
            "attachments": [],
        },
        "dataset_id": dataset_id,
        "project_id": None,
        "annotations": [],
    }


class UploadGen:
    """Batches of data rows whose keys partly collide with the spool.

    The generator keeps its own model of which keys the spool holds —
    built from the generated batches and the documented skip/suffix
    semantics, never read back from the program — so inputs depend on
    the seed alone."""

    def __init__(self, seed: int, knobs: UploadKnobs = UploadKnobs()) -> None:
        self.seed = seed
        self.knobs = knobs
        self.rng = np.random.default_rng([seed, 1])
        self._next = 0

    def _new_keys(self, n: int) -> list[str]:
        start = self._next
        self._next += n
        return [f"gk-{self.seed}-{i:08d}" for i in range(start, start + n)]

    def initial_spool(self, dataset_id: str) -> list[dict]:
        keys = self._new_keys(self.knobs.initial_spool_rows)
        return [_spool_record(k, dataset_id) for k in keys]

    def batch(self, spool_keys: list[str]) -> pd.DataFrame:
        """One batch: ``existing_share`` of its keys sampled from
        ``spool_keys`` (in their insertion order, so the draw is
        seed-determined), the rest fresh. Keys are unique in a batch."""
        k = self.knobs
        n_old = min(int(round(k.batch_rows * k.existing_share)), len(spool_keys))
        idx = self.rng.choice(len(spool_keys), size=n_old, replace=False)
        keys = [spool_keys[i] for i in sorted(idx)] + self._new_keys(k.batch_rows - n_old)
        order = self.rng.permutation(len(keys))
        keys = [keys[i] for i in order]
        n = len(keys)
        rng = self.rng
        score = rng.random(n).round(4).astype(str).astype(object)
        score[rng.random(n) < 0.1] = None
        note = np.array([f"note {i % 97}" for i in range(n)], dtype=object)
        note[rng.random(n) < 0.3] = None
        boxes = rng.integers(0, 500, size=(n, 4))
        weather = np.array(["sunny", "rain", "fog"], dtype=object)[rng.integers(0, 3, n)]
        return pd.DataFrame(
            {
                "row_data": [f"https://assets.example/{key}.jpg" for key in keys],
                "key": keys,
                "metadata///string///source": np.array(
                    ["cam-a", "cam-b", "cam-c", "web", "scan"], dtype=object
                )[rng.integers(0, 5, n)],
                "metadata///number///score": score,
                "metadata///enum///split": np.array(
                    ["train", "val", "test"], dtype=object
                )[rng.integers(0, 3, n)],
                "metadata///datetime///captured_at": [
                    f"2024-{1 + d % 12:02d}-{1 + d % 28:02d}T00:00:00Z"
                    for d in rng.integers(0, 365, n)
                ],
                "attachment///raw_text///note": note,
                "attachment///image///thumb": [f"https://thumbs.example/{key}.png" for key in keys],
                "annotation///bbox///car": [
                    f"[[[{a}, {b}, {c}, {d}]]]" for a, b, c, d in boxes.tolist()
                ],
                "annotation///radio///weather": [f"[['{w}']]" for w in weather],
            },
            columns=UPLOAD_COLUMNS,
        )


# --------------------------------------------------------------------------
# label_export
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class ExportKnobs:
    labels: int = 1200
    # objects per label ~ zipf(objects_zipf) - 1, capped: most labels
    # carry 0-2 objects, a long tail carries dozens
    objects_zipf: float = 1.7
    max_objects: int = 60
    # probability an object carries a nested classification
    nested_share: float = 0.5
    # share of labels present in the remote metadata snapshot
    remote_meta_share: float = 0.6
    metadata_rows: int = 1200


OBJECT_TITLES = ["car", "person", "tree", "sign", "bike", "bus"]
QUESTION_TITLES = ["weather", "time_of_day", "quality"]
_ANSWERS = {
    "weather": ["sunny", "rain", "fog", "snow"],
    "time_of_day": ["day", "night", "dusk"],
    "quality": ["good", "blurry"],
}
SPLITS = ["train", "val", "test"]
LANGS = ["en", "de", "fr", "es", "it"]
SOURCES = ["cam-a", "cam-b", "web"]


@dataclass
class ExportInputs:
    labels: list[dict]
    metadata: list[dict]
    local_meta: pd.DataFrame
    ontology: list[dict]
    meta_table: pd.DataFrame
    expected: dict = field(default_factory=dict)


def export_inputs(seed: int, knobs: ExportKnobs = ExportKnobs()) -> ExportInputs:
    """A nested label export with skewed objects per label, the remote
    metadata snapshot, a partial metadata ontology, and the truth."""
    rng = np.random.default_rng([seed, 2])
    n = knobs.labels
    # the multiset of per-label object counts is the same for every seed
    # (drawn from a fixed stream) and only its order depends on the seed,
    # so every seed exports the same amount of work
    shape = np.random.default_rng(0).zipf(knobs.objects_zipf, n) - 1
    n_obj = rng.permutation(np.minimum(shape, knobs.max_objects))
    title_p = np.array([0.35, 0.25, 0.15, 0.1, 0.1, 0.05])
    obj_totals = {t: 0 for t in OBJECT_TITLES}
    answer_counts: dict[tuple[str, str], int] = {}
    agreement_sum = 0
    labels = []
    for i in range(n):
        objects = []
        for j, t in enumerate(rng.choice(OBJECT_TITLES, size=n_obj[i], p=title_p)):
            t = str(t)
            obj_totals[t] += 1
            box = rng.integers(0, 800, 4).tolist()
            classes = (
                [{"title": "occluded", "answer": "yes" if rng.random() < 0.3 else "no"}]
                if rng.random() < knobs.nested_share
                else []
            )
            objects.append({
                "featureId": f"f-{seed}-{i}-{j}",
                "schemaId": f"s-{t}",
                "title": t,
                "value": t,
                "color": "#00ff00",
                "bbox": {"top": box[0], "left": box[1], "height": box[2], "width": box[3]},
                "classifications": classes,
            })
        classifications = []
        for q in QUESTION_TITLES:
            if rng.random() < 0.8:
                a = str(rng.choice(_ANSWERS[q]))
                classifications.append({"title": q, "answer": a})
                answer_counts[(q, a)] = answer_counts.get((q, a), 0) + 1
                # a repeated answer to the same question: first one wins
                if rng.random() < 0.1:
                    classifications.append({"title": q, "answer": str(rng.choice(_ANSWERS[q]))})
        agreement = int(rng.integers(0, 101))
        agreement_sum += agreement
        day = int(rng.integers(1, 28))
        labels.append({
            "ID": f"lbl-{seed}-{i}",
            "DataRowID": f"dr-{seed}-{i:06d}",
            "External ID": f"img-{i}.jpg",
            "Labeled Data": f"https://assets.example/img-{i}.jpg",
            "Created By": f"user{i % 7}@example.com",
            "Project Name": "bench",
            "Created At": f"2024-03-{day:02d}T10:00:00Z",
            "Updated At": f"2024-04-{day:02d}T10:00:00Z",
            "Seconds to Label": round(float(rng.random() * 100), 3),
            "Agreement": str(agreement),
            "Benchmark Agreement": "-1",
            "Has Open Issues": "0",
            "Skipped": False,
            "Label": {"objects": objects, "classifications": classifications},
        })

    ids = [lab["DataRowID"] for lab in labels]
    local_split = [SPLITS[i % 3] for i in range(n)]
    remote: dict[str, str] = {}
    metadata = []
    for i in np.flatnonzero(rng.random(n) < knobs.remote_meta_share).tolist():
        vals = [str(v) for v in rng.choice(SPLITS, size=1 + (rng.random() < 0.1))]
        for v in vals:
            metadata.append({"data_row_id": ids[i], "split": v})
        remote[ids[i]] = max(vals)  # lookup_join keeps max() per key
    synced: dict[str, int] = {}
    for i, key in enumerate(ids):
        v = remote.get(key, local_split[i])
        synced[v] = synced.get(v, 0) + 1

    m = knobs.metadata_rows
    langs = [str(x) for x in rng.choice(LANGS, m)]
    meta_table = pd.DataFrame({
        "row_data": [f"https://assets.example/meta-{i}.jpg" for i in range(m)],
        "metadata///enum///lang": langs,
        "metadata///number///score": rng.integers(0, 50, m),
        "metadata///string///source": [str(x) for x in rng.choice(SOURCES, m)],
    })
    # remote ontology knows lang with two options and source; score is missing
    ontology = [
        {"schema_id": "m/lang", "name": "lang", "kind": "enum",
         "options": [{"schema_id": "m/lang/en", "name": "en"},
                     {"schema_id": "m/lang/de", "name": "de"}]},
        {"schema_id": "m/source", "name": "source", "kind": "string", "options": []},
    ]

    return ExportInputs(
        labels=labels,
        metadata=metadata,
        local_meta=pd.DataFrame({"data_row_id": ids, "split": local_split}),
        ontology=ontology,
        meta_table=meta_table,
        expected={
            "labels": n,
            "objects": int(n_obj.sum()),
            "object_totals": obj_totals,
            "answer_counts": answer_counts,
            "agreement_sum": agreement_sum,
            "synced_split_counts": synced,
            # reconciliation must add these options to the lang field and
            # create the missing score field
            "missing_lang_options": {v for v in langs if v not in ("en", "de")},
        },
    )


# --------------------------------------------------------------------------
# curation
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class CurationKnobs:
    docs: int = 1000
    vocab: int = 20000
    zipf_s: float = 1.1
    # share of tokens that are English function words (quality/langid signal)
    stopword_share: float = 0.25
    min_tokens: int = 40
    max_tokens: int = 120
    # share of base docs given an exact copy (whitespace-perturbed) and a
    # near-duplicate (token edits at edit_rate); the two sets are disjoint
    exact_share: float = 0.05
    near_share: float = 0.10
    edit_rate: float = 0.04
    vectors: int = 2000
    dim: int = 64
    vector_clusters: int = 24
    # share of vectors planted as near-copies of another vector
    vector_dup_share: float = 0.1
    query_batches: int = 2
    queries_per_batch: int = 50
    k: int = 10


@dataclass
class CurationInputs:
    docs: pd.DataFrame
    vectors: pd.DataFrame
    query_batches: list[pd.DataFrame]
    # exact top-k neighbour ids per query id
    topk: dict[int, set[int]]
    exact_removed: set[int]
    exact_pairs: set[tuple[int, int]]
    near_pairs: set[tuple[int, int]]
    expected_text: dict


EN_STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "it", "for", "with"]
LANG_PROFILES = {
    "en": EN_STOPWORDS,
    "fr": ["le", "la", "les", "de", "des", "et", "un", "une", "est", "dans"],
    "es": ["el", "la", "los", "las", "de", "y", "que", "en", "un", "una"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "eine"],
}
_PUNCT = re.compile(r"[^a-zA-Z0-9\s]")


def quality_reference(text: str) -> float:
    """Python mirror of ``functions.text.quality_score``."""
    toks = text.strip().split()
    n = len(toks)
    punct = len(_PUNCT.findall(text)) / max(len(text), 1)
    sw = sum(t.lower() in EN_STOPWORDS for t in toks) / max(n, 1)
    return (
        (5 <= n <= 5000) * 0.4 + (punct < 0.3) * 0.3 + (0.01 < sw < 0.7) * 0.3
    )


def lang_reference(text: str) -> dict[str, int]:
    """Python mirror of ``functions.text.lang_scores``."""
    toks = [t.lower() for t in text.strip().split()]
    return {lang: sum(t in sw for t in toks) for lang, sw in LANG_PROFILES.items()}


def exact_topk(qids, queries: np.ndarray, corpus: np.ndarray, k: int) -> dict[int, set[int]]:
    """Exact cosine top-k, ranked like the package: cosine rounded to 6
    decimals, descending, ties to the lower id."""
    qn = np.linalg.norm(queries, axis=1)[:, None]
    cn = np.linalg.norm(corpus, axis=1)[None, :]
    cos = np.round((queries @ corpus.T) / (qn * cn), 6)
    ids = np.arange(len(corpus))
    out = {}
    for qid, row in zip(qids.tolist(), cos):
        order = np.lexsort((ids, -row))[:k]
        out[qid] = set(order.tolist())
    return out


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct random lowercase words, none a profile stopword."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    taken = {w for ws in LANG_PROFILES.values() for w in ws}
    out: dict[str, None] = {}
    while len(out) < size:
        lengths = rng.integers(3, 11, size)
        chars = letters[rng.integers(0, 26, (size, 10))]
        for row, n in zip(chars, lengths):
            w = "".join(row[:n])
            if w not in taken:
                out[w] = None
    return list(out)[:size]


def curation_inputs(seed: int, knobs: CurationKnobs = CurationKnobs()) -> CurationInputs:
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(_vocabulary(rng, knobs.vocab), dtype=object)
    ranks = np.arange(1, knobs.vocab + 1, dtype=np.float64)
    p = ranks ** -knobs.zipf_s
    p /= p.sum()
    other_langs = np.array(
        [w for lang, ws in LANG_PROFILES.items() if lang != "en" for w in ws], dtype=object
    )
    stop = np.array(EN_STOPWORDS, dtype=object)

    n_exact = int(knobs.docs * knobs.exact_share)
    n_near = int(knobs.docs * knobs.near_share)
    n_base = knobs.docs - n_exact - n_near
    # document lengths spread evenly over [min, max] in a seeded order,
    # so every seed carries the same number of tokens
    lengths = rng.permutation(
        np.linspace(knobs.min_tokens, knobs.max_tokens, n_base).round().astype(int)
    )
    total = int(lengths.sum())
    words = rng.choice(knobs.vocab, size=total, p=p)
    kinds = rng.random(total)
    toks = vocab[words]
    is_stop = kinds < knobs.stopword_share
    toks[is_stop] = stop[words[is_stop] % len(stop)]
    is_other = ~is_stop & (kinds < knobs.stopword_share + 0.03)
    toks[is_other] = other_langs[words[is_other] % len(other_langs)]
    dotted = rng.random(total) < 0.03
    toks[dotted] = toks[dotted] + "."
    bounds = np.cumsum(lengths)[:-1]
    base = [list(t) for t in np.split(toks, bounds)]
    texts = [" ".join(t) for t in base]
    planted = rng.choice(n_base, size=n_exact + n_near, replace=False).tolist()
    exact_src, near_src = planted[:n_exact], planted[n_exact:]
    origin: list[tuple[str, int]] = []  # (kind, base index) per planted doc
    for b in exact_src:
        # whitespace-only perturbation: identical tokens, identical fingerprint
        texts.append("  " + texts[b].replace(" ", "  ", 3) + " ")
        origin.append(("exact", b))
    for b in near_src:
        toks = list(base[b])
        # a fixed edit count keeps every planted pair's shingle Jaccard
        # near 0.75, above the 0.5 threshold the workload searches at
        n_edits = max(1, round(knobs.edit_rate * len(toks)))
        for pos in rng.choice(len(toks), size=n_edits, replace=False).tolist():
            # the replacement always differs, so a near copy is never exact
            toks[pos] = next(w for w in rng.choice(vocab, 2) if w != toks[pos])
        texts.append(" ".join(toks))
        origin.append(("near", b))

    # shuffle ids so a copy is as likely to get the lower id as its source
    ids = rng.permutation(len(texts)) + 1
    docs = pd.DataFrame({"doc_id": ids.astype(np.int64), "text": texts})
    exact_pairs, near_pairs, exact_removed = set(), set(), set()
    for j, (kind, b) in enumerate(origin):
        a, c = int(ids[b]), int(ids[n_base + j])
        pair = (min(a, c), max(a, c))
        if kind == "exact":
            exact_pairs.add(pair)
            exact_removed.add(pair[1])
        else:
            near_pairs.add(pair)
    if len({" ".join(t.split()) for t in texts}) != len(texts) - n_exact:
        raise ValueError("generator produced an unplanted exact duplicate")

    q_sum = sum(quality_reference(t) for t in texts)
    lang_sum = {lang: 0 for lang in LANG_PROFILES}
    for t in texts:
        for lang, v in lang_reference(t).items():
            lang_sum[lang] += v

    # embeddings: clustered vectors plus planted near-copies
    d = knobs.dim
    centers = rng.normal(size=(knobs.vector_clusters, d))
    n_dup = int(knobs.vectors * knobs.vector_dup_share)
    n_vec = knobs.vectors - n_dup
    assign = rng.integers(0, knobs.vector_clusters, n_vec)
    vecs = centers[assign] + rng.normal(scale=0.6, size=(n_vec, d))
    dup_src = rng.integers(0, n_vec, n_dup)
    vecs = np.vstack([vecs, vecs[dup_src] + rng.normal(scale=0.01, size=(n_dup, d))])
    vecs = vecs.round(5)
    vectors = pd.DataFrame({
        "vec_id": np.arange(len(vecs), dtype=np.int64),
        "embedding": [row.tolist() for row in vecs],
    })
    batches = []
    topk: dict[int, set[int]] = {}
    qid = 0
    for _ in range(knobs.query_batches):
        src = rng.integers(0, len(vecs), knobs.queries_per_batch)
        q = (vecs[src] + rng.normal(scale=0.2, size=(len(src), d))).round(5)
        ids = np.arange(qid, qid + len(src), dtype=np.int64)
        batches.append(pd.DataFrame({"query_id": ids, "embedding": [row.tolist() for row in q]}))
        topk.update(exact_topk(ids, q, vecs, knobs.k))
        qid += len(src)

    return CurationInputs(
        docs=docs,
        vectors=vectors,
        query_batches=batches,
        topk=topk,
        exact_removed=exact_removed,
        exact_pairs=exact_pairs,
        near_pairs=near_pairs,
        expected_text={"quality_sum": q_sum, "lang_sums": lang_sum, "docs": len(texts)},
    )
