"""The three workloads. Each prepares its seeded inputs under a fresh
directory, then runs rounds of operations through the package's public
functions and checks every output against the generator's truth.

- ``label_upload``: the connector's write side (client, uploads,
  transport). Rounds grow the spool, so key reconciliation and the
  spool scan get dearer round by round; an epoch restarts from the
  seeded spool so every run measures the same mix of spool sizes.
- ``label_export``: the connector's read side (transport export,
  driver-side JSON parse, enrich, silver, ontology, parquet sink).
- ``curation``: dedup, text analysis and IVF search, no connector work.
"""

from __future__ import annotations

import json
import math
import os
import shutil
from collections import Counter

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from labelspark_spark import LABELBOX_DEFAULT_TYPE_DICTIONARY, Client, LocalTransport
from labelspark_spark.functions import text
from labelspark_spark.operators import dedup, similarity
from labelspark_spark.sources import readers

from perfbench import gen
from perfbench.harness import median
from perfbench.tracing import TracingTransport

PROJECT = "bench-project"


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def write_parquet(df, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def read(spark, path: str):
    # looked up at call time so the traced run's wrapper applies
    return readers.read_parquet(spark, path)


class Workload:
    name = ""
    rounds_per_epoch = 1

    def __init__(self, spark, seed: int, traced: bool = False) -> None:
        self.spark = spark
        self.seed = seed
        self.traced_run = traced
        self.extra: dict[str, list[float]] = {}

    def note(self, metric: str, value: float) -> None:
        self.extra.setdefault(metric, []).append(float(value))

    def _clients(self, root: str, tracer) -> None:
        platform = os.path.join(root, "platform")
        self.plain = Client(LocalTransport(platform), self.spark)
        self.traced = Client(TracingTransport(platform, self.spark, tracer), self.spark)

    def prepare(self, root: str, tracer) -> None:
        raise NotImplementedError

    def start_epoch(self) -> None:
        pass

    def warm_up(self, runner) -> None:
        """Pay one-off costs (Python worker start, code generation, the
        JIT) in one untimed round before anything is timed."""
        self.start_epoch()
        self.round(runner, self.plain, 0)

    def round(self, runner, client, r: int) -> None:
        raise NotImplementedError

    def op_medians(self, rounds: list[dict]) -> list[tuple[str, float, str, int]]:
        """(name, median, unit, sample count) of the workload's own
        end-to-end latencies, from its untraced rounds."""
        raise NotImplementedError


def _ops(rounds: list[dict], kind: str) -> list[float]:
    return [dt for r in rounds for k, dt in r["ops"] if k == kind]


def _per_round(rounds: list[dict], kinds: set[str]) -> list[float]:
    return [sum(dt for k, dt in r["ops"] if k in kinds) for r in rounds]


# --------------------------------------------------------------------------


class LabelUpload(Workload):
    name = "label_upload"
    knobs = gen.UploadKnobs()
    rounds_per_epoch = knobs.rounds_per_epoch

    def prepare(self, root: str, tracer) -> None:
        self._clients(root, tracer)
        self.datasets = os.path.join(root, "platform", "datasets")
        g = gen.UploadGen(self.seed, self.knobs)
        initial = g.initial_spool("ds")
        self.initial_ndjson = "".join(json.dumps(r) + "\n" for r in initial)
        self.initial_keys = [r["data_row"]["global_key"] for r in initial]
        drawable = list(self.initial_keys)
        in_spool = set(drawable)
        self.batches = []  # (parquet path, keys, keys expected to post in skip mode)
        os.makedirs(os.path.join(root, "inputs"))
        for r in range(self.rounds_per_epoch):
            batch = g.batch(drawable)
            keys = batch["key"].tolist()
            posted = [k for k in keys if k not in in_spool]
            drawable += posted
            in_spool.update(posted)
            path = os.path.join(root, "inputs", f"batch-{r}.parquet")
            write_parquet(batch, path)
            self.batches.append((path, keys, posted))
        self.epoch = 0

    def start_epoch(self) -> None:
        if self.epoch:
            shutil.rmtree(os.path.join(self.datasets, self.dataset_id), ignore_errors=True)
        self.epoch += 1
        self.dataset_id = f"ds-{self.epoch}"
        d = os.path.join(self.datasets, self.dataset_id)
        os.makedirs(d)
        with open(os.path.join(d, "batch-initial.ndjson"), "w") as f:
            f.write(self.initial_ndjson)
        self.spool_keys = set(self.initial_keys)
        self.seen_files = set(os.listdir(d))

    def _new_rows(self) -> list[dict]:
        d = os.path.join(self.datasets, self.dataset_id)
        rows = []
        for name in sorted(set(os.listdir(d)) - self.seen_files):
            self.seen_files.add(name)
            with open(os.path.join(d, name)) as f:
                rows.extend(json.loads(line) for line in f)
        return rows

    def _check_create(self, r: int) -> list[str]:
        _, keys, posted = self.batches[r]
        rows = self._new_rows()
        got = [row["data_row"]["global_key"] for row in rows]
        problems = []
        if Counter(got) != Counter(posted):
            problems.append(f"skip mode posted {len(got)} rows, expected {len(posted)}")
        for row in rows:
            dr = row["data_row"]
            if dr["row_data"] != f"https://assets.example/{dr['global_key']}.jpg":
                problems.append(f"row_data mismatch for {dr['global_key']}")
                break
            if not dr["metadata_fields"] or not row["annotations"]:
                problems.append(f"metadata/annotations missing for {dr['global_key']}")
                break
        self.spool_keys.update(got)
        return problems

    def _check_upsert(self, r: int) -> list[str]:
        _, keys, _ = self.batches[r]
        rows = self._new_rows()
        got = [row["data_row"]["global_key"] for row in rows]
        problems = []
        if len(got) != len(keys):
            problems.append(f"upsert posted {len(got)} rows, expected {len(keys)}")
        if len(set(got)) != len(got):
            problems.append("minted keys are not unique")
        clash = set(got) & self.spool_keys
        if clash:
            problems.append(f"{len(clash)} minted keys collide with existing keys")
        if Counter(map(gen.strip_suffix, got)) != Counter(map(gen.strip_suffix, keys)):
            problems.append("minted keys do not map back onto the batch's keys")
        if any(k == gen.strip_suffix(k) for k in got):
            problems.append("a colliding key was posted without a suffix")
        for row in rows:
            dr = row["data_row"]
            if dr["row_data"] != f"https://assets.example/{gen.strip_suffix(dr['global_key'])}.jpg":
                problems.append(f"row_data rewritten for {dr['global_key']}")
                break
        self.spool_keys.update(got)
        return problems

    def round(self, runner, client, r: int) -> None:
        path, keys, _ = self.batches[r]
        spark, ds = self.spark, self.dataset_id

        def create():
            client.create_data_rows_from_table(
                read(spark, path), ds, row_data_col="row_data", global_key_col="key"
            )

        def upsert():
            client.upsert_data_rows_from_table(
                read(spark, path), ds, row_data_col="row_data", global_key_col="key"
            )

        runner.op("client.create", create, lambda _: self._check_create(r), rows=len(keys))
        runner.op("client.upsert", upsert, lambda _: self._check_upsert(r), rows=len(keys))
        self.note("transport.spool_bytes", dir_bytes(os.path.join(self.datasets, ds)))

    def op_medians(self, rounds):
        up, ups = _ops(rounds, "client.create"), _ops(rounds, "client.upsert")
        return [
            ("upload_p50_s", median(up), "s", len(up)),
            ("upsert_p50_s", median(ups), "s", len(ups)),
        ]


# --------------------------------------------------------------------------


class LabelExport(Workload):
    name = "label_export"
    knobs = gen.ExportKnobs()

    def prepare(self, root: str, tracer) -> None:
        self._clients(root, tracer)
        self.inp = gen.export_inputs(self.seed, self.knobs)
        t = self.plain.transport
        t.seed_labels(PROJECT, self.inp.labels)
        t.seed_metadata(PROJECT, self.inp.metadata)
        os.makedirs(os.path.join(root, "inputs"))
        self.local_meta = os.path.join(root, "inputs", "local_meta.parquet")
        self.meta_table = os.path.join(root, "inputs", "meta_table.parquet")
        write_parquet(self.inp.local_meta, self.local_meta)
        write_parquet(self.inp.meta_table, self.meta_table)
        self.sink = os.path.join(root, "out", "labels.parquet")
        self.onto_path = os.path.join(t.root, f"onto-{PROJECT}.json")

    def round(self, runner, client, r: int) -> None:
        exp = self.inp.expected
        n = exp["labels"]
        spark = self.spark

        def export():
            df = client.export_to_table(PROJECT, type_dictionary=LABELBOX_DEFAULT_TYPE_DICTIONARY)
            row = df.agg(
                F.count(F.lit(1)), F.sum("Agreement"), F.count("Created At"),
                F.sum(F.size("Label.objects")),
            ).first()
            return dict(df.dtypes), tuple(row)

        def check_export(out):
            dtypes, row = out
            problems = []
            if dtypes.get("Agreement") != "int" or dtypes.get("Created At") != "timestamp":
                problems.append(f"typed export dtypes {dtypes.get('Agreement')}/{dtypes.get('Created At')}")
            want = (n, exp["agreement_sum"], n, exp["objects"])
            if row != want:
                problems.append(f"typed export aggregates {row} != {want}")
            return problems

        def export_compat():
            df = client.export_to_table(PROJECT, string_compat=True)
            row = df.agg(
                F.count(F.lit(1)), F.sum(F.col("Agreement").cast("int")),
                F.min(F.length("Label")),
            ).first()
            return dict(df.dtypes), tuple(row)

        def check_compat(out):
            dtypes, row = out
            problems = []
            if set(dtypes.values()) != {"string"}:
                problems.append(f"compat export has non-string columns {set(dtypes.values())}")
            if row[:2] != (n, exp["agreement_sum"]) or not row[2]:
                problems.append(f"compat export aggregates {row}")
            return problems

        def silver():
            bronze = client.get_annotations(PROJECT)
            s = client.bronze_to_silver(
                bronze,
                key_cols=["DataRowID"],
                objects_col="Label.objects",
                classifications_col="Label.classifications",
                object_titles=gen.OBJECT_TITLES,
                question_titles=gen.QUESTION_TITLES,
            )
            answers = sorted(exp["answer_counts"])
            row = s.agg(
                F.count(F.lit(1)),
                F.count_distinct("DataRowID"),
                *[F.sum(F.coalesce(F.col(f"`{t}.count`"), F.lit(0))) for t in gen.OBJECT_TITLES],
                *[F.sum((F.col(q) == a).cast("int")) for q, a in answers],
            ).first()
            return answers, tuple(row)

        def check_silver(out):
            answers, row = out
            t = len(gen.OBJECT_TITLES)
            problems = []
            if row[0] != n or row[1] != n:
                problems.append(f"silver has {row[0]} rows / {row[1]} labels, expected {n}")
            counts = dict(zip(gen.OBJECT_TITLES, row[2:2 + t]))
            if counts != exp["object_totals"] or sum(counts.values()) != exp["objects"]:
                problems.append(f"silver object counts {counts} != {exp['object_totals']}")
            got = dict(zip(answers, row[2 + t:]))
            if got != exp["answer_counts"]:
                problems.append("silver first-wins answers differ from the planted answers")
            return problems

        def sync_metadata():
            synced = client.update_metadata(
                read(spark, self.local_meta), PROJECT, key_col="data_row_id", value_col="split"
            )
            return {r["split"]: r["count"] for r in synced.groupBy("split").count().collect()}

        def check_sync(got):
            want = exp["synced_split_counts"]
            return [] if got == want else [f"synced split counts {got} != {want}"]

        def reconcile():
            client.connect_spark_metadata(read(spark, self.meta_table), PROJECT, key_cols=["row_data"])

        def check_reconcile(_):
            with open(self.onto_path) as f:
                fields = {fd["name"]: fd for fd in json.load(f)}
            want_opts = {"en", "de"} | exp["missing_lang_options"]
            problems = []
            if {o["name"] for o in fields["lang"]["options"]} != want_opts:
                problems.append("missing lang options were not created")
            if fields.get("score", {}).get("kind") != "number":
                problems.append("missing score field was not created")
            if set(fields) != {"lang", "score", "source"}:
                problems.append(f"unexpected ontology fields {sorted(fields)}")
            return problems

        def export_parquet():
            client.export_to_parquet_table(
                PROJECT, self.sink, mode="overwrite",
                type_dictionary=LABELBOX_DEFAULT_TYPE_DICTIONARY,
            )

        def check_parquet(_):
            rows = sum(
                pq.read_metadata(os.path.join(self.sink, f)).num_rows
                for f in os.listdir(self.sink)
                if f.endswith(".parquet")
            )
            self.note("sources.bytes_written", dir_bytes(self.sink))
            return [] if rows == n else [f"parquet sink holds {rows} rows, expected {n}"]

        runner.op("client.export", export, check_export, rows=n)
        runner.op("client.export_compat", export_compat, check_compat, rows=n)
        runner.op("silver.build", silver, check_silver, rows=n)
        runner.op("client.sync_metadata", sync_metadata, check_sync, rows=n)
        # the ontology starts partial every round, so each reconcile
        # creates the same fields and options
        self.plain.transport.seed_ontology(PROJECT, self.inp.ontology)
        runner.op("ontology.reconcile", reconcile, check_reconcile,
                  rows=len(self.inp.meta_table))
        runner.op("client.export_parquet", export_parquet, check_parquet, rows=n)

    def op_medians(self, rounds):
        ex = _ops(rounds, "client.export")
        return [("export_p50_s", median(ex), "s", len(ex))]


# --------------------------------------------------------------------------


class Curation(Workload):
    name = "curation"
    knobs = gen.CurationKnobs()
    K = gen.CurationKnobs.k
    NPROBE = 4
    CELLS = 16
    TABLE = "perfbench_ivf"
    # the bound the repository's own MinHash-LSH recall test holds
    PLANTED_RECALL_FLOOR = 0.8
    RECALL_AT_K_FLOOR = 0.9
    DEDUP = {"dedup.exact", "dedup.minhash", "dedup.simhash", "dedup.components"}
    INDEX = {"similarity.kmeans_fit", "similarity.ivf_build"}

    def prepare(self, root: str, tracer) -> None:
        self._clients(root, tracer)
        self.inp = gen.curation_inputs(self.seed, self.knobs)
        d = os.path.join(root, "inputs")
        os.makedirs(d)
        self.docs_path = os.path.join(d, "docs.parquet")
        self.vec_path = os.path.join(d, "vectors.parquet")
        write_parquet(self.inp.docs, self.docs_path)
        write_parquet(self.inp.vectors, self.vec_path)
        self.query_paths = []
        for i, qb in enumerate(self.inp.query_batches):
            p = os.path.join(d, f"queries-{i}.parquet")
            write_parquet(qb, p)
            self.query_paths.append(p)
        self.planted = self.inp.exact_pairs | self.inp.near_pairs
        self.pairs = None
        self.centroids = None

    def warm_up(self, runner) -> None:
        super().warm_up(runner)
        if self.traced_run:
            # the package's exact search, timed for the per-layer view and
            # checked against the generator's exact top-k
            def brute_force():
                top = similarity.brute_force_topk(
                    read(self.spark, self.vec_path),
                    self.spark.createDataFrame(pd.concat(self.inp.query_batches)),
                    k=self.K,
                )
                got: dict[int, set] = {}
                for q, nb in top.select("query_id", "neighbor_id").collect():
                    got.setdefault(int(q), set()).add(int(nb))
                return got

            def check(got):
                same = sum(len(got.get(q, set()) & t) for q, t in self.inp.topk.items())
                want = sum(len(t) for t in self.inp.topk.values())
                return [] if same >= 0.99 * want else [
                    f"brute_force_topk agrees on {same} of {want} neighbours"
                ]

            runner.op("similarity.brute_force", brute_force, check)
            for dt in runner.latency["similarity.brute_force"]:
                self.note("similarity.brute_force_s", dt)

    def round(self, runner, client, r: int) -> None:
        spark, inp = self.spark, self.inp
        n_docs = len(inp.docs)

        def docs():
            return read(spark, self.docs_path)

        def exact():
            return [row[0] for row in dedup.exact_dedup(docs()).select("doc_id").collect()]

        def check_exact(kept):
            removed = set(inp.docs["doc_id"].tolist()) - set(kept)
            problems = []
            if len(kept) != len(set(kept)):
                problems.append("exact dedup returned an id twice")
            if removed != inp.exact_removed:
                problems.append(
                    f"exact dedup removed {len(removed)} docs, planted {len(inp.exact_removed)}"
                )
            return problems

        def minhash():
            rows = dedup.minhash_lsh_pairs(docs(), threshold=0.5).select("id_a", "id_b").collect()
            self.pairs = [(int(a), int(b)) for a, b in rows]
            return self.pairs

        def check_minhash(pairs):
            found = set(pairs)
            recall = len(found & self.planted) / len(self.planted)
            self.note("dedup.pairs_out", len(pairs))
            self.note("dedup.planted_recall", recall)
            self.note("dedup.pairs_per_planted", len(pairs) / len(self.planted))
            problems = []
            if any(a >= b for a, b in pairs):
                problems.append("minhash pair not ordered id_a < id_b")
            if recall < self.PLANTED_RECALL_FLOOR:
                problems.append(f"minhash planted recall {recall:.3f} < {self.PLANTED_RECALL_FLOOR}")
            return problems

        def simhash():
            rows = dedup.simhash_pairs(docs(), max_hamming=3).select("id_a", "id_b").collect()
            return {(int(a), int(b)) for a, b in rows}

        def check_simhash(found):
            missing = inp.exact_pairs - found
            return [f"simhash missed {len(missing)} exact copies"] if missing else []

        def components():
            pairs = spark.createDataFrame(self.pairs, "id_a long, id_b long")
            return {int(i): int(c) for i, c in dedup.connected_components(pairs).collect()}

        def check_components(comp):
            bad = [p for p in self.planted & set(self.pairs) if comp.get(p[0]) != comp.get(p[1])]
            wrong = [i for i, c in comp.items() if c > i]
            problems = []
            if bad:
                problems.append(f"{len(bad)} planted pairs split across components")
            if wrong:
                problems.append("a component label is not its minimum member id")
            return problems

        def quality():
            return tuple(
                docs().select(text.quality_score("text").alias("q"))
                .agg(F.sum("q"), F.count("q")).first()
            )

        def check_quality(row):
            want = inp.expected_text["quality_sum"]
            if row[1] != n_docs or not math.isclose(row[0], want, abs_tol=1e-6):
                return [f"quality sum {row} != ({want}, {n_docs})"]
            return []

        langs = list(gen.LANG_PROFILES)

        def langid():
            row = docs().select(*text.lang_scores("text")).agg(
                *[F.sum(f"score_{lang}") for lang in langs]
            ).first()
            return dict(zip(langs, row))

        def check_langid(got):
            want = inp.expected_text["lang_sums"]
            return [] if got == want else [f"lang score sums {got} != {want}"]

        def kmeans():
            rows = similarity.kmeans_fit(
                read(spark, self.vec_path), k=self.CELLS, dim=self.knobs.dim, max_iters=5
            ).collect()
            self.centroids = spark.createDataFrame(
                [(int(r["centroid_id"]), [float(x) for x in r["centroid"]]) for r in rows],
                "centroid_id int, centroid array<double>",
            )
            return rows

        def check_kmeans(rows):
            ok = len(rows) == self.CELLS and all(
                len(r["centroid"]) == self.knobs.dim and all(map(math.isfinite, r["centroid"]))
                for r in rows
            )
            return [] if ok else [f"kmeans returned {len(rows)} malformed centroids"]

        def build():
            similarity.ivf_build(
                read(spark, self.vec_path), self.centroids, table=self.TABLE,
                num_buckets=8, dim=self.knobs.dim,
            )

        def check_build(_):
            n = spark.table(self.TABLE).count()
            return [] if n == len(inp.vectors) else [f"index holds {n} rows"]

        def probe(path):
            def call():
                res = similarity.ivf_probe(
                    read(spark, path), self.centroids, table=self.TABLE,
                    k=self.K, nprobe=self.NPROBE, dim=self.knobs.dim,
                ).select("query_id", "neighbor_id").collect()
                got: dict[int, set] = {}
                for q, nb in res:
                    got.setdefault(int(q), set()).add(int(nb))
                return got
            return call

        def check_probe(qids):
            def check(got):
                hits = sum(len(got.get(q, set()) & self.inp.topk[q]) for q in qids)
                recall = hits / sum(len(self.inp.topk[q]) for q in qids)
                self.note("similarity.recall_at_k", recall)
                problems = []
                if set(got) != set(qids) or any(len(v) != self.K for v in got.values()):
                    problems.append(f"probe did not return {self.K} neighbours per query")
                if recall < self.RECALL_AT_K_FLOOR:
                    problems.append(f"recall@{self.K} {recall:.3f} < {self.RECALL_AT_K_FLOOR}")
                return problems
            return check

        runner.op("dedup.exact", exact, check_exact, rows=n_docs)
        runner.op("dedup.minhash", minhash, check_minhash, rows=n_docs)
        runner.op("dedup.simhash", simhash, check_simhash, rows=n_docs)
        runner.op("dedup.components", components, check_components,
                  rows=len(self.pairs or ()))
        runner.op("text.quality", quality, check_quality, rows=n_docs)
        runner.op("text.langid", langid, check_langid, rows=n_docs)
        runner.op("similarity.kmeans_fit", kmeans, check_kmeans, rows=len(inp.vectors))
        runner.op("similarity.ivf_build", build, check_build, rows=len(inp.vectors))
        for path, qb in zip(self.query_paths, inp.query_batches):
            qids = [int(q) for q in qb["query_id"]]
            runner.op("similarity.ivf_probe", probe(path), check_probe(qids), rows=len(qids))

    def op_medians(self, rounds):
        dd = _per_round(rounds, self.DEDUP)
        ib = _per_round(rounds, self.INDEX)
        sp = _ops(rounds, "similarity.ivf_probe")
        return [
            ("dedup_p50_s", median(dd), "s", len(dd)),
            ("index_build_s", median(ib), "s", len(ib)),
            ("search_p50_s", median(sp), "s", len(sp)),
        ]


WORKLOADS = {w.name: w for w in (LabelUpload, LabelExport, Curation)}
