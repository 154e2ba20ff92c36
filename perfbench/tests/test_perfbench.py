"""Self-tests of the benchmark (not of the package it measures).

Run from the root of a checkout:

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
from contextlib import redirect_stdout

import pytest

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", ".."))
sys.path.insert(0, ROOT)

from perfbench import gen, harness, run, tracing  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
SMALL_UPLOAD = gen.UploadKnobs(batch_rows=200, initial_spool_rows=300)
SMALL_EXPORT = gen.ExportKnobs(labels=150, metadata_rows=100)
SMALL_CURATION = gen.CurationKnobs(
    docs=200, vocab=3000, vectors=300, vector_clusters=6, query_batches=1,
    queries_per_batch=10,
)


def _upload_batches(seed):
    g = gen.UploadGen(seed, SMALL_UPLOAD)
    initial = g.initial_spool("ds")
    keys = [r["data_row"]["global_key"] for r in initial]
    return initial, [g.batch(keys) for _ in range(2)]


def test_same_seed_same_inputs_other_seed_other_inputs():
    a_init, a_batches = _upload_batches(7)
    b_init, b_batches = _upload_batches(7)
    _, c_batches = _upload_batches(8)
    assert a_init == b_init
    for x, y in zip(a_batches, b_batches):
        assert x.equals(y)
    assert not a_batches[0].equals(c_batches[0])

    e1, e2, e3 = (gen.export_inputs(s, SMALL_EXPORT) for s in (7, 7, 8))
    assert e1.labels == e2.labels and e1.expected == e2.expected
    assert e1.metadata == e2.metadata and e1.meta_table.equals(e2.meta_table)
    assert e1.labels != e3.labels

    c1, c2, c3 = (gen.curation_inputs(s, SMALL_CURATION) for s in (7, 7, 8))
    assert c1.docs.equals(c2.docs) and c1.vectors.equals(c2.vectors)
    assert c1.near_pairs == c2.near_pairs and c1.exact_removed == c2.exact_removed
    assert not c1.docs.equals(c3.docs)


def test_planted_truth_is_consistent():
    c = gen.curation_inputs(3, SMALL_CURATION)
    texts = dict(zip(c.docs["doc_id"], c.docs["text"]))
    for a, b in c.exact_pairs:
        assert texts[a].split() == texts[b].split() and texts[a] != texts[b]
    for a, b in c.near_pairs:
        assert texts[a].split() != texts[b].split()
    assert c.exact_removed == {b for _, b in c.exact_pairs}

    e = gen.export_inputs(3, SMALL_EXPORT)
    assert sum(e.expected["object_totals"].values()) == e.expected["objects"]
    assert sum(len(lab["Label"]["objects"]) for lab in e.labels) == e.expected["objects"]
    assert sum(e.expected["synced_split_counts"].values()) == SMALL_EXPORT.labels


def test_metric_names_are_well_formed_and_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = [m["name"] for m in bench["end_to_end"]]
    per_layer = [m["name"] for m in bench["per_layer"]]
    assert e2e == [name for name, _ in run.E2E]
    assert per_layer == tracing.PER_LAYER
    assert len(set(per_layer)) == len(per_layer)
    from perfbench.workloads import WORKLOADS

    op_names = ["failed_op_ratio"]
    for cls in WORKLOADS.values():
        op_names += [name for name, *_ in cls.op_medians(cls.__new__(cls), [])]
    workloads = [w["name"] for w in bench["workloads"]]
    assert workloads == list(WORKLOADS)
    for name in e2e + per_layer + op_names + workloads:
        assert NAME.match(name), name


def test_median_and_sample_count_reporting():
    assert harness.median([3.0, 1.0, 2.0]) == 2.0
    assert harness.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    assert harness.median([]) == 0.0
    rounds = [
        {"epoch": 0, "op_s": 1.0, "rows": 100},
        {"epoch": 0, "op_s": 3.0, "rows": 300},
        {"epoch": 1, "op_s": 5.0, "rows": 1000},
    ]
    assert run.per_epoch_round_s(rounds) == [2.0, 5.0]
    assert run.per_epoch_rows_per_s(rounds) == [100.0, 200.0]
    res = {
        "attempted": 12, "failed": 0, "failures": [], "rounds": 3,
        "e2e": {
            "setup_s": (1.5, "session start + median of 3 set-ups"),
            "wall_s": (2.25, "median of 3 rounds"),
            "rows_per_s": (1000.0, "median of 3 epochs; 9000 rows over 3 rounds"),
            "peak_rss_mb": (900.0, "driver JVM + Python"),
        },
        "round_s": [2.0, 2.25, 2.5],
        "ops": [("export_p50_s", 0.5, "s", 3)],
        "op_latency": {"client.export": [0.4, 0.5, 0.6]},
        "env": {"SPARK_GRAFT_CPUS": "4"},
    }
    args = run.parse_args(["--workload", "label_export", "--seed", "1", "--seconds", "5"])
    buf = io.StringIO()
    with redirect_stdout(buf):
        run.report(args, res)
    lines = buf.getvalue().splitlines()
    last = json.loads(lines[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["attempted"] == 12 and last["failed"] == 0
    assert list(last["metrics"]) == [name for name, _ in run.E2E]
    assert last["metrics"]["wall_s"] == {"value": 2.25, "unit": "s"}
    text = "\n".join(lines[:-1])
    assert "median of 3 rounds" in text and "export_p50_s" in text
    assert "(median of 3)" in text and "failed_op_ratio" in text


def test_runner_counts_raises_and_failed_checks_without_stopping():
    r = harness.Runner(harness.Tracer(), None)
    assert r.op("a", lambda: 1, lambda out: [] if out == 1 else ["bad"]) == 1

    def boom():
        raise RuntimeError("operation raised")

    assert r.op("b", boom) is None
    r.op("c", lambda: 2, lambda out: ["corrupted output"])
    r.op("d", lambda: 3, lambda out: 1 / 0)
    r.op("e", lambda: 4, lambda out: [])
    assert (r.attempted, r.failed) == (5, 3)
    assert [f.split(":")[0] for f in r.failures] == ["b", "c", "d"]
    assert len(r.latency["b"]) == 0 and len(r.latency["e"]) == 1


def test_self_time_subtracts_the_union_of_children():
    S = harness.Span
    spans = [
        S(0, "client.create", 0.0, 10.0, None, "op"),
        S(1, "uploads.upsert_keys", 1.0, 2.0, 0, "op"),
        S(2, "transport.post", 3.0, 6.0, 0, "op"),
        S(3, "transport.post", 5.0, 7.0, 0, "op"),  # overlaps the previous post
    ]
    selfs = harness.self_times(spans)
    assert selfs["client"] == pytest.approx(10.0 - 1.0 - 4.0)
    assert selfs["uploads"] == pytest.approx(1.0)
    assert selfs["transport"] == pytest.approx(5.0)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("perfbench"))
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    # Python workers import the package and the benchmark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    s, _, _ = harness.start_session(root)
    yield s
    harness.stop_session(s)


def test_corrupted_operation_output_counts_in_failed_op_ratio(spark, tmp_path, monkeypatch):
    from labelspark_spark.operators import dedup
    from perfbench.workloads import Curation

    class SmallCuration(Curation):
        knobs = SMALL_CURATION

    wl = SmallCuration(spark, seed=5)
    tracer = harness.Tracer()
    wl.prepare(str(tmp_path / "clean"), tracer)
    clean = harness.Runner(tracer, None)
    wl.round(clean, wl.plain, 0)
    assert clean.attempted > 0 and clean.failed == 0, clean.failures

    # exact dedup that removes nothing: the planted copies survive
    monkeypatch.setattr(dedup, "exact_dedup", lambda df, **kw: df)
    corrupted = harness.Runner(tracer, None)
    wl.round(corrupted, wl.plain, 0)
    assert corrupted.attempted == clean.attempted
    assert corrupted.failed == 1
    assert corrupted.failures[0].startswith("dedup.exact")
    assert corrupted.failed / corrupted.attempted > 0
