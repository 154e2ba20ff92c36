"""Traced-run instrumentation, all on the benchmark side.

- :class:`TracingTransport` is a ``LocalTransport`` whose executor-side
  posts report a span each (start, end, rows) back to the driver
  through a Spark accumulator, so spans from worker processes stay in
  memory like the driver's own.
- :func:`patched` wraps the package's layer functions and the client's
  methods with spans for the duration of a traced epoch. Lazy calls
  record plan-build time; the action that runs them is attributed to
  the operation through its Spark job group.
- :func:`layer_metrics` turns spans and per-operation engine counters
  into the per-layer metrics by name.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from pyspark.accumulators import AccumulatorParam

from labelspark_spark.client import LocalTransport

from perfbench.harness import Tracer, median, self_times


class ListParam(AccumulatorParam):
    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


class TracingTransport(LocalTransport):
    """LocalTransport that records each call as a span."""

    def __init__(self, root: str, spark, tracer: Tracer) -> None:
        super().__init__(root)
        self.acc = spark.sparkContext.accumulator([], ListParam())
        self._tracer = tracer

    def __getstate__(self):
        # executors need the root and the accumulator, never the tracer
        return {"root": self.root, "acc": self.acc}

    def post_data_rows(self, dataset_id: str, rows: list[dict]) -> None:
        t0 = time.time()
        super().post_data_rows(dataset_id, rows)
        self.acc.add([("transport.post", t0, time.time(), len(rows))])

    def export_labels(self, project_id: str) -> str:
        return self._driver_call("transport.export_labels", super().export_labels, project_id)

    def export_metadata(self, project_id: str) -> str:
        return self._driver_call("transport.export_metadata", super().export_metadata, project_id)

    def export_ontology(self, project_id: str) -> str:
        return self._driver_call("transport.export_ontology", super().export_ontology, project_id)

    def _driver_call(self, name, fn, project_id):
        with self._tracer.span(name):
            out = fn(project_id)
        if self._tracer.enabled:
            self._tracer.spans[-1].attrs["bytes"] = len(out)
        return out

    def drain(self, op_id: str) -> None:
        """Move the worker spans of ``op_id`` into the tracer."""
        for name, start, end, rows in self.acc.value:
            self._tracer.add_foreign(name, start, end, op_id, rows=rows)
        self.acc.value = []


# (module, attribute, span name): the package's layer functions as the
# client and the operators look them up at call time
_LAYER_FUNCS = [
    ("labelspark_spark.client", "json_literal_to_df", "sources.json_literal_to_df"),
    ("labelspark_spark.client", "upsert_keys", "uploads.upsert_keys"),
    ("labelspark_spark.client", "build_uploads", "uploads.build_uploads"),
    ("labelspark_spark.client", "lookup_join", "uploads.lookup_join"),
    ("labelspark_spark.client", "enrich_types", "enrich.enrich_types"),
    ("labelspark_spark.client", "to_string_frame", "enrich.to_string_frame"),
    ("labelspark_spark.client", "_bronze_to_silver", "silver.bronze_to_silver"),
    ("labelspark_spark.client", "write_parquet", "sources.write_parquet"),
    ("labelspark_spark.client", "unpivot_metadata", "ontology.unpivot_metadata"),
    ("labelspark_spark.client", "resolve_metadata_schema_ids", "ontology.resolve_schema_ids"),
    ("labelspark_spark.client", "metadata_reconciliation", "ontology.metadata_reconciliation"),
    ("labelspark_spark.client", "ontology_index", "ontology.ontology_index"),
    ("labelspark_spark.sources.writers", "write_bucketed", "sources.write_bucketed"),
    ("labelspark_spark.sources.readers", "read_parquet", "sources.read_parquet"),
]

_CLIENT_METHODS = [
    "existing_global_keys",
    "create_data_rows_from_table",
    "upsert_data_rows_from_table",
    "export_to_table",
    "export_to_parquet_table",
    "update_metadata",
    "connect_spark_metadata",
    "resolve_metadata",
    "export_ontology_index",
    "get_annotations",
    "bronze_to_silver",
]


@contextmanager
def patched(tracer: Tracer, client):
    """Wrap layer functions and ``client``'s methods with spans; restore
    them on exit."""
    import importlib

    saved = []
    try:
        for mod_name, attr, span in _LAYER_FUNCS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))
            setattr(mod, attr, tracer.wrap(span, fn))
        for meth in _CLIENT_METHODS:
            fn = getattr(client, meth)
            saved.append((client, meth, None))
            setattr(client, meth, tracer.wrap(f"client.{meth}", fn))
        yield
    finally:
        for owner, attr, fn in reversed(saved):
            if fn is None:
                delattr(owner, attr)  # drop the instance attribute
            else:
                setattr(owner, attr, fn)


# per-layer time metric -> span names whose durations it sums, per round
SPAN_TIMES = {
    "client.existing_keys_s": ["client.existing_global_keys"],
    "client.upsert_s": ["client.upsert"],
    "uploads.upsert_keys_s": ["uploads.upsert_keys"],
    "client.create_s": ["client.create"],
    "uploads.build_uploads_s": ["uploads.build_uploads"],
    "transport.post_busy_s": ["transport.post"],
    "sources.json_literal_s": ["sources.json_literal_to_df"],
    "client.export_s": ["client.export"],
    "enrich.s": ["enrich.enrich_types", "enrich.to_string_frame"],
    "silver.bronze_to_silver_s": ["silver.build"],
    "client.update_metadata_s": ["client.sync_metadata"],
    "ontology.reconcile_s": ["ontology.reconcile"],
    "sources.write_s": ["sources.write_parquet", "sources.write_bucketed"],
    "dedup.exact_s": ["dedup.exact"],
    "dedup.minhash_s": ["dedup.minhash"],
    "dedup.simhash_s": ["dedup.simhash"],
    "dedup.components_s": ["dedup.components"],
    "similarity.kmeans_fit_s": ["similarity.kmeans_fit"],
    "similarity.ivf_build_s": ["similarity.ivf_build"],
    "similarity.ivf_probe_s": ["similarity.ivf_probe"],
    "text.quality_s": ["text.quality"],
    "text.langid_s": ["text.langid"],
    "sources.read_s": ["sources.read_parquet"],
}

SPARK_COUNTS = {
    "spark.jobs": "jobs",
    "spark.stages": "stages",
    "spark.tasks": "tasks",
    "spark.failed_tasks": "failed_tasks",
    "spark.input_bytes": "input_bytes",
    "spark.shuffle_read_bytes": "shuffle_read_bytes",
    "spark.shuffle_write_bytes": "shuffle_write_bytes",
    "spark.spill_bytes": "spill_bytes",
}

SELF_LAYERS = [
    "client", "transport", "sources", "uploads", "enrich", "silver",
    "ontology", "dedup", "similarity", "text",
]

# metrics a workload reports itself (probe recall, bytes on disk, ...)
WORKLOAD_METRICS = [
    "session.start_s",
    "transport.spool_bytes",
    "sources.bytes_written",
    "dedup.pairs_out",
    "dedup.planted_recall",
    "dedup.pairs_per_planted",
    "similarity.brute_force_s",
    "similarity.recall_at_k",
]

PER_LAYER = [
    *SPAN_TIMES,
    "transport.post_calls",
    "transport.post_rows",
    "transport.rows_per_post",
    "transport.export_bytes",
    *SPARK_COUNTS,
    "spark.executor_run_s",
    "spark.gc_s",
    "spark.core_utilization",
    *WORKLOAD_METRICS,
    *[f"self.{layer}_s" for layer in SELF_LAYERS],
    "trace.overhead_s",
]


def layer_metrics(rounds: list[dict], cores: int, extra: dict, overhead_s: float) -> dict:
    """Per-layer metrics from the traced rounds: each is the median over
    rounds of its per-round total. ``rounds`` holds, per traced round,
    its spans, summed engine counters and summed operation time."""
    per_round: dict[str, list[float]] = {m: [] for m in PER_LAYER}
    for r in rounds:
        spans = r["spans"]
        for metric, names in SPAN_TIMES.items():
            per_round[metric].append(sum(s.end - s.start for s in spans if s.name in names))
        posts = [s for s in spans if s.name == "transport.post"]
        n_rows = sum(s.attrs["rows"] for s in posts)
        per_round["transport.post_calls"].append(len(posts))
        per_round["transport.post_rows"].append(n_rows)
        per_round["transport.rows_per_post"].append(n_rows / len(posts) if posts else 0.0)
        per_round["transport.export_bytes"].append(
            sum(s.attrs.get("bytes", 0) for s in spans if s.name.startswith("transport.export"))
        )
        c = r["counters"]
        for metric, key in SPARK_COUNTS.items():
            per_round[metric].append(c.get(key, 0.0))
        run_s = c.get("executor_run_ms", 0.0) / 1000.0
        per_round["spark.executor_run_s"].append(run_s)
        per_round["spark.gc_s"].append(c.get("gc_ms", 0.0) / 1000.0)
        per_round["spark.core_utilization"].append(
            run_s / (r["op_s"] * cores) if r["op_s"] > 0 else 0.0
        )
        selfs = self_times(spans)
        for layer in SELF_LAYERS:
            per_round[f"self.{layer}_s"].append(selfs.get(layer, 0.0))
    out = {m: median(v) for m, v in per_round.items() if v}
    for m in PER_LAYER:
        out.setdefault(m, 0.0)
    for m in WORKLOAD_METRICS:
        out[m] = float(extra.get(m, 0.0))
    out["trace.overhead_s"] = overhead_s
    return out


def write_spans(path: str, rounds: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for i, r in enumerate(rounds):
            for s in r["spans"]:
                f.write(json.dumps({
                    "round": i, "id": s.sid, "name": s.name, "start": s.start,
                    "end": s.end, "parent": s.parent, "op": s.op, **s.attrs,
                }) + "\n")
