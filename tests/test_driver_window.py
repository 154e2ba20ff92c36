"""Pin the r13 driver-window plan — a pure rotation round with a
DERIVED changed-code head (the r11 stretch item, hardened r12).

The driver hash-checks the FIRST 50 registry entries each round. From
r11 on the window policy is:

    [this round's new/changed code, reverse-landing order]
    + the FRESHNESS QUEUE: oldest driver attestation first, derived
      deterministically from the CORRECTNESS_r*.json files on disk by
      tools/freshness.py (sort by (latest_green_round ASC, name ASC)).

These tests freeze the ROTATION INVARIANTS in code (not one round's
literal list alone):

- _R13_WINDOW is exactly 50 names, distinct, and forms the registry
  prefix the driver checks.
- Its head is exactly the changed-code set: the 10 queries flagged by
  tools/changed_head.py against the r12 close (the r13 ADVICE fixes in
  operators/asof.py and streaming/stateful.py, the five mutation-audit
  oracle strengthenings in queries.py, and aqe_skew_join's scoped AQE
  pin from the perturbation replay) — asserted by DERIVATION from the
  actual `git diff r12-close..worktree`, not prose.
- Its tail is exactly the first 40 names of the freshness queue
  RE-DERIVED here from the same files — the queue is consumed in
  order, oldest vintage first. (With a 10-name head the r3 cohort
  finally DRAINS this round and the queue advances deep into r4.)
- Window entries without an oracle are confined to the frozen
  declared-approximate set (driver records a weaker rows-only check
  for those; each has a hash-checked companion elsewhere).
"""

import glob
import json
import os
import re
import subprocess

import pytest

from labelspark_spark import queries as Q

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The r12 close commit ("round 12: verdict/advice/correctness/bench")
# — the attestation baseline every r13 source change is measured
# against (same source tree as the r12 builder close; the driver
# commit only adds round artifacts).
R12_CLOSE_SHA = "6c494a6"

# r13 window head, per the rotation policy: no NEW queries this round
# (registry saturated at 364, all attested), 10 CHANGED — the r13
# ADVICE fixes plus the mutation-audit oracle strengthenings plus the
# perturbation-replay conf pin. Derived by `python
# tools/changed_head.py 6c494a6` (asof.py: NULL-left-ts ordering,
# on-key clash guard, empty value_cols short-circuit ->
# asof_join/asof_tolerance/attribution_last_touch; stateful.py:
# chain-aware very-late prefix -> events_stream_session_timeout;
# queries.py: join_left_outer/conversion_latency/funnel_steps
# strengthened so unmatched left rows exist in the driver data —
# tools/mutate_oracle.py batch 1 showed all three were left==inner at
# sf0.01 — token_ids' vocab shrunk to top-10 so OOV exists and
# explode_outer_nulls' length threshold lowered to >7 so its non-null
# arm runs, both from mutation batch 2; and aqe_skew_join now pins
# spark.sql.adaptive.enabled in its scoped conf, found by
# tools/perturb_replay.py's AQE-off pass).
R13_NEW: list[str] = []
R13_CHANGED = [
    "aqe_skew_join",
    "asof_join",
    "asof_tolerance",
    "attribution_last_touch",
    "conversion_latency",
    "events_stream_session_timeout",
    "explode_outer_nulls",
    "funnel_steps",
    "join_left_outer",
    # post-close additions (driver had not yet run): the sf0.1
    # scale-robustness replay caught similarity_pq_recall's fixed
    # rerank depth; mutation batch 5 caught tokenizer_oov_rate's
    # all-covering top-100 vocab (the token_ids disease)
    "similarity_pq_recall",
    "token_ids",
    "tokenizer_oov_rate",
]
R13_HEAD = R13_NEW + R13_CHANGED

# Attested queries whose code changes since R12_CLOSE_SHA are NOT
# re-attested in the r13 head — every entry needs a reason and is a
# NEXT-round head candidate. Empty at round open; post-close fix
# batches append here (with the full-replay-green evidence noted in
# SURVEY) instead of silently growing the prose list.
_R13OPT_REASON = (
    "r13 optimization-round change (post window close): performance "
    "restructure or shared-helper touch; full-registry oracle replay "
    "green at sf0.01 on the final optimized tree (352 hash-green + 12 "
    "rows-only, 0 failures — OPTIMIZATION_r13.md); r14 head candidate"
)
R13_CHANGED_NOT_IN_HEAD: dict[str, str] = {
    name: _R13OPT_REASON
    for name in [
        # shape-changed queries: spread_to_parallelism at the scan
        # (er_score_pairs, bloom_prune, dedup_simhash, the 19
        # multimodal media queries via _stage_media), the IVF
        # cell-local scoring rewrite (dedup_embedding_ivf + recall),
        # the sssp edge localCheckpoint, and the bucketed-write
        # repartition alignment (bucketed_join_roundtrip + every
        # query whose index build goes through write_bucketed)
        "bloom_prune",
        "bm25_index_probe",
        "bm25_retrieval",
        "bucketed_join_roundtrip",
        "dedup_embedding_ivf",
        "dedup_embedding_ivf_recall",
        "dedup_simhash",
        "er_score_pairs",
        "item_cooccur_cosine",
        "ivf_probe_twin_equality",
        "kmeans_ivf_recall",
        "kmeans_twolevel_recall",
        "knn_ivf_agreement",
        "knn_label_vote_ivf",
        "market_basket",
        "multimodal_audio_adpcm",
        "multimodal_audio_features",
        "multimodal_audio_g711",
        "multimodal_audio_meta",
        "multimodal_audio_native",
        "multimodal_audio_resample",
        "multimodal_audio_trim",
        "multimodal_bmp_pixels",
        "multimodal_exif",
        "multimodal_frame_plan",
        "multimodal_gif_frames",
        "multimodal_image_tiles",
        "multimodal_jpeg_pixels",
        "multimodal_phash_dedup",
        "multimodal_pixels",
        "multimodal_resize",
        "multimodal_tiff_meta",
        "multimodal_video_meta",
        "rank_fusion_rrf",
        "similarity_ivf_probe",
        "similarity_ivf_recall",
        "similarity_kmeans_ivf",
        "similarity_pq",
        "sssp_levels",
        "weighted_median",
        # second optimization batch (commit c226449): the BPE loop's
        # doc_id pre-partition + scoped-AQE checkpoint, the connected-
        # components in-frame change flag (dedup_canonicalize +
        # dedup_clusters), and the winnowing spread — each touched
        # query's oracle replay re-run green in that session before
        # commit (label_propagation shares the CC helper but its AST
        # closure is unchanged per tools/changed_head.py)
        "bpe_train_iters",
        "dedup_canonicalize",
        "dedup_clusters",
        "dedup_winnowing",
        # third optimization batch: NB-comment-only touch (the reverted
        # localCheckpoint experiment left a measured-negative-result
        # note in the body; the tool flags any in-span hunk) — replay
        # green in the same session's full driver-contract run
        "ngram_lm_score",
        # continuation-session batch (fused single-partition k-means /
        # two-level fit, threaded pq_train, one-join CC iterations —
        # all operator-level, already covered by the entries above) —
        # plus the one newly-touched query body: the jsonl sink spread
        # (gated round-robin before the gzip ndjson write; aggregate
        # unchanged, oracle replay green at sf0.01 in the same session)
        "jsonl_roundtrip",
    ]
}
# k-means helper consolidation (one Lloyd's core): the fit, the IVF
# assignment UDF, the batch-probe pre-selector and the dedup pair-cosine
# kernels now call shared module-level NumPy helpers. Outputs are
# bit-identical to the previous tree (centroids, assignments, probe
# results and pair cosines compared exactly at sf0.01 and sf0.1), and
# the oracle replay of every query tools/changed_head.py flags for the
# change is green at sf0.01 (8 hash-green + 7 rows-only, 0 failures).
# Only the names below were not already listed above.
R13_CHANGED_NOT_IN_HEAD.update(
    {
        name: (
            "k-means helper consolidation: bit-identical outputs, flagged-"
            "query oracle replay green at sf0.01; next head candidate"
        )
        for name in ["dedup_embedding_lsh", "dedup_embedding_lsh_recall", "similarity_ivf"]
    }
)

# the frozen declared-approximate set (VERDICT r10: 12 rows-only
# entries, every one carrying a driver-green hash-checked companion)
ROWS_ONLY = {
    "knn_label_vote_ivf", "similarity_pq", "hll_distinct",
    "percentiles_approx", "similarity_kmeans_ivf", "dedup_embedding_ivf",
    "dedup_embedding_lsh", "similarity_ivf_probe", "approx_distinct",
    "dedup_minhash_lsh", "similarity_lsh", "similarity_ivf",
}


# The round whose window this file pins. The derivation below must see
# exactly the CORRECTNESS files that existed at THIS round's open —
# including the in-flight round's own file (written by the driver while
# the round runs) would make the re-derived queue reshuffle and go red
# the moment the pinned window succeeds.
PINNED_ROUND = 13


def _latest_attestation_rounds() -> dict[str, int]:
    """Each query's latest CORRECTNESS round among rounds BEFORE the
    pinned one, from the files on disk (same derivation as
    tools/freshness.py, kept inline so the test can't drift from what
    it pins)."""
    latest: dict[str, int] = {}
    for path in sorted(
        glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")),
        key=lambda p: int(re.search(r"_r(\d+)\.json", p).group(1)),
    ):
        rnd = int(re.search(r"_r(\d+)\.json", path).group(1))
        if rnd >= PINNED_ROUND:
            continue
        for name in json.load(open(path)):
            latest[name] = rnd
    return latest


def test_r13_window_is_the_driver_prefix():
    assert len(Q._R13_WINDOW) == 50
    assert len(set(Q._R13_WINDOW)) == 50
    assert list(Q.REGISTRY)[:50] == Q._R13_WINDOW


def test_r13_head_is_exactly_the_new_and_changed_set():
    # nothing is ever dropped: every registry entry with NO driver row
    # (as of this round's open) must sit first in the window head;
    # changed-but-previously-attested code follows it; the head holds
    # nothing else
    latest = _latest_attestation_rounds()
    assert latest, "driver CORRECTNESS files missing"
    never = sorted(n for n in Q.REGISTRY if n not in latest)
    assert never == sorted(R13_NEW), never
    # changed entries must already have a driver row (else they'd be NEW)
    assert all(n in latest for n in R13_CHANGED)
    assert Q._R13_WINDOW[: len(R13_HEAD)] == R13_HEAD


def test_r13_tail_is_the_freshness_queue_prefix():
    # re-derive the queue from the CORRECTNESS files (latest round ASC,
    # name ASC — the tools/freshness.py order), drop head names, and
    # pin the tail to its first 50-len(head) names: the queue is
    # consumed in order, no name skipped ahead of an older one.
    latest = _latest_attestation_rounds()
    queue = sorted(
        (n for n in Q.REGISTRY if n in latest and n not in R13_HEAD),
        key=lambda n: (latest[n], n),
    )
    assert Q._R13_WINDOW[len(R13_HEAD):] == queue[: 50 - len(R13_HEAD)]


def test_r13_tail_starts_at_the_oldest_vintage():
    # the head is policy-mandated changed code; the tail must still
    # begin at the globally stalest attestation (nothing older than
    # the tail's first name exists outside the window)
    latest = _latest_attestation_rounds()
    tail = Q._R13_WINDOW[len(R13_HEAD):]
    assert tail, "window has no freshness tail"
    oldest_overall = min(
        latest[n] for n in Q.REGISTRY if n in latest and n not in R13_HEAD
    )
    assert latest[tail[0]] == oldest_overall


def test_r13_no_oracle_slots_are_declared_approximate():
    no_oracle = {n for n in Q._R13_WINDOW if Q.REGISTRY[n][1] is None}
    assert no_oracle <= ROWS_ONLY, sorted(no_oracle - ROWS_ONLY)
    # and the frozen approximate set itself hasn't silently grown
    registry_no_oracle = {n for n, (f, s) in Q.REGISTRY.items() if s is None}
    assert registry_no_oracle == ROWS_ONLY, sorted(
        registry_no_oracle ^ ROWS_ONLY
    )


def test_r13_head_covers_the_derived_changed_set():
    """'Did the head include every changed attested path?' by
    DERIVATION. tools/changed_head.py walks each registry query's
    package-internal dependency closure (AST + object introspection,
    conservative: docstring edits inside a reachable span count) and
    intersects it with the actual git diff since the r12 close. Every
    flagged attested query must re-attest in the r13 head — or carry
    an explicit, reasoned entry in R13_CHANGED_NOT_IN_HEAD
    (full-replay-verified, next-round head candidate)."""
    import importlib.util

    probe = subprocess.run(
        ["git", "rev-parse", "--verify", R12_CLOSE_SHA],
        cwd=REPO, capture_output=True, text=True,
    )
    if probe.returncode != 0:
        pytest.skip("r12-close commit not reachable in this checkout")
    spec = importlib.util.spec_from_file_location(
        "changed_head", os.path.join(REPO, "tools", "changed_head.py")
    )
    ch = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ch)
    flagged = set(ch.changed_queries(R12_CLOSE_SHA))
    allowed = set(R13_HEAD) | set(R13_CHANGED_NOT_IN_HEAD)
    uncovered = flagged - allowed
    assert not uncovered, (
        "attested queries changed since r12-close but absent from the "
        f"r13 head and the documented exception list: {sorted(uncovered)}"
    )
