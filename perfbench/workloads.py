"""The benchmark's workloads, driven through the engine's public
functions from one client (a closed loop: the next operation starts
when the previous one returns).

Each workload has ``setup`` (state seeding, and warm-up passes where the
workload is measured warm), ``run_pass`` (the unit of work ``wall_s``
times), ``between`` (untimed output checks and pass isolation),
``finish`` (untimed checks that need the whole run) and ``after_passes``.
Every call into the engine sits in a span whose layer is the engine
module called. Results go to a real sink (``key val`` text, parquet) or
are collected, and scan floors use the ``noop`` sink: all of them
materialize every row, where ``count()`` would let Catalyst prune work.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager

import numpy as np

from perfbench import checks, gen, sparkstats, trace

QUERY_LAYER = "plans.registry"


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def registry_layer(fn) -> str:
    """Engine layer of a registry query: the module that defines it."""
    return fn.__module__.removeprefix("mpi_mapreduce_spark.")


class Workload:
    name = ""
    #: a cold workload is measured by the first pass of a fresh session
    #: (a batch job in its own application); a warm one repeats passes
    cold = True

    def __init__(self, spark, inputs: dict, tracer, work: str):
        self.spark = spark
        self.inputs = inputs
        self.tracer = tracer
        self.work = work
        self.times: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    @contextmanager
    def op(self, name: str, layer: str, new_trace: bool = False):
        """One timed engine operation. An exception inside counts as a
        failed operation and is not re-raised, so the run goes on."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            with self.tracer.span(name, layer, new_trace=new_trace):
                yield
        except Exception as e:  # boundary: record and keep running
            self.fail([f"{name}: {type(e).__name__}: {str(e)[:200]}"])
        self.times.setdefault(name, []).append(time.perf_counter() - t)

    def fail(self, msgs: list[str]) -> None:
        """Record one failed operation if ``msgs`` is not empty."""
        if msgs:
            self.failed += 1
            self.failures.extend(msgs)

    def between(self) -> int:
        return sparkstats.isolate(self.spark)

    def finish(self) -> None:
        pass

    def scan_floor(self, sf_dir: str, table: str) -> None:
        """load_table plus a noop sink: the cost of reading the input."""
        from mpi_mapreduce_spark import datamodel

        with self.op("datamodel.scan", "datamodel"):
            with self.tracer.span("load_table", "datamodel"):
                df = datamodel.load_table(self.spark, sf_dir, table)
            with self.tracer.span("noop", "spark"):
                noop(df)

    def after_passes(self) -> None:
        """Work run only in traced runs, after the passes and outside
        every end-to-end number: per-layer measurements that are not
        part of the workload's job."""

    def median_s(self, name: str) -> float:
        v = self.times.get(name)
        return statistics.median(v) if v else 0.0


# ---------------------------------------------------------------------------
# batch_corpus
# ---------------------------------------------------------------------------

def _word_length_emitter():
    """The python map for map_reduce: (token length, 1) per lowercase
    token. Built in a function so cloudpickle ships it by value."""

    def emit(doc: str):
        for w in doc.lower().split():
            yield str(len(w)), 1

    return emit


CURATION_QUERIES = (
    ("dedup_exact", "dedup.exact_s"),
    ("dedup_minhash_lsh", "dedup.minhash_lsh_s"),
    ("dedup_substring_spans", "dedup.substring_spans_s"),
    ("text_quality_score", "textops.quality_s"),
    ("text_bpe_encode", "textops.bpe_encode_s"),
    ("pipeline_curate_corpus", "training.curate_s"),
    ("training_shard_manifest", "training.shard_manifest_s"),
)


def run_oracle(sql: str, sf_dir: str):
    """A registry ORACLE query in DuckDB over the generated documents
    table, the only table these queries read (the tests' run_oracle
    registers every engine table, which the generated inputs lack)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
        return con.execute(sql).df()
    finally:
        con.close()


class BatchCorpus(Workload):
    """One batch job over two corpora, measured cold, like a job in its
    own application. First the paper's job: tasks 1/2/3 over ``{i}.txt``
    with the ``key val`` sink, wordcount over the same texts as parquet,
    and a python-emitter map_reduce. Then the registry curation queries
    over a documents table with planted duplicates, each written to
    parquet. The checks read the written outputs."""

    name = "batch_corpus"

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.ref = self.inputs["refjob"]
        self.cur = self.inputs["curation"]
        self.recall: list[float] = []

    def out_path(self, name: str) -> str:
        return os.path.join(self.work, "out", name)

    def setup(self) -> None:
        """Nothing to seed: the job starts from its input files."""

    def run_pass(self) -> None:
        self.refjob_pass()
        self.curation_pass()

    def refjob_pass(self) -> None:
        from mpi_mapreduce_spark import datamodel, refjob
        from mpi_mapreduce_spark.operators import mapreduce
        from mpi_mapreduce_spark.plans.registry import QUERIES
        from mpi_mapreduce_spark.sources import io

        inp, spark = self.ref, self.spark

        def sink(df, name):
            with self.tracer.span("write_parquet", "spark"):
                df.write.mode("overwrite").parquet(self.out_path(name))

        write_kv_s = 0.0
        for task in (1, 2, 3):
            with self.op(f"mapreduce.task{task}", "refjob"):
                with self.tracer.span("run_reference_job", "refjob"):
                    kv = refjob.run_reference_job(spark, inp["corpus_dir"], inp["num_files"], task)
                t = time.perf_counter()
                with self.tracer.span("write_kv_text", "sources"):
                    io.write_kv_text(kv, self.out_path(f"task{task}"))
                write_kv_s += time.perf_counter() - t
        self.times.setdefault("sources.write_kv", []).append(write_kv_s)
        with self.op("mapreduce.wordcount", QUERY_LAYER):
            with self.tracer.span("wordcount", "operators.mapreduce"):
                df = QUERIES["wordcount"](spark, inp["sf_dir"])
            sink(df, "wordcount")
        with self.op("mapreduce.py_map", "operators.mapreduce"):
            with self.tracer.span("map_reduce", "operators.mapreduce"):
                docs = datamodel.load_table(spark, inp["sf_dir"], "documents")
                df = mapreduce.map_reduce(docs, _word_length_emitter())
            sink(df, "wordlen")

    def curation_pass(self) -> None:
        from mpi_mapreduce_spark.plans.registry import QUERIES

        sf = self.cur["sf_dir"]
        for q, _ in CURATION_QUERIES:
            with self.op(q, QUERY_LAYER):
                with self.tracer.span(q, registry_layer(QUERIES[q])):
                    df = QUERIES[q](self.spark, sf)
                with self.tracer.span("write_parquet", "spark"):
                    df.write.mode("overwrite").parquet(self.out_path(q))

    def after_passes(self) -> None:
        """The scan floors of the pass's sources, warm: both documents
        tables and the refcorpus ``{i}.txt`` files, each read whole
        into a noop sink."""
        from mpi_mapreduce_spark.sources.refcorpus import register_ref_corpus_source

        inp, spark = self.ref, self.spark
        self.scan_floor(inp["sf_dir"], "documents")
        self.scan_floor(self.cur["sf_dir"], "documents")
        with self.op("sources.refcorpus_scan", "sources"):
            with self.tracer.span("read_refcorpus", "sources"):
                register_ref_corpus_source(spark)
                df = (
                    spark.read.format("refcorpus")
                    .option("path", inp["corpus_dir"])
                    .option("numfiles", str(inp["num_files"]))
                    .load()
                )
            with self.tracer.span("noop", "spark"):
                noop(df)

    def between(self) -> int:
        """Check the pass's outputs, then isolate."""
        self.check_refjob()
        self.check_curation()
        shutil.rmtree(os.path.join(self.work, "out"), ignore_errors=True)
        return super().between()

    def check_refjob(self) -> None:
        """Against the generator's exact counts: the ``key val`` files
        through a read_kv_text round trip, wordcount and map_reduce from
        their parquet sinks."""
        import pandas as pd

        from mpi_mapreduce_spark.sources import io

        exp = self.ref["expected"]
        for task in (1, 2, 3):
            path = self.out_path(f"task{task}")
            if os.path.isdir(path):
                rows = io.read_kv_text(self.spark, path).collect()
                self.fail(checks.check_kv(f"task{task}", {r[0]: r[1] for r in rows}, exp[f"task{task}"]))
        for name in ("wordcount", "wordlen"):
            path = self.out_path(name)
            if os.path.isdir(path):
                got = pd.read_parquet(path)
                self.fail(checks.check_kv(name, dict(zip(got["key"], got["val"])), exp[name]))

    def check_curation(self) -> None:
        """Against the registry's DuckDB oracles (planted-pair recall for
        dedup_minhash_lsh, which has none)."""
        import pandas as pd

        from mpi_mapreduce_spark.plans.registry import ORACLE

        sf = self.cur["sf_dir"]
        for q, _ in CURATION_QUERIES:
            if not os.path.isdir(self.out_path(q)):
                continue
            got = pd.read_parquet(self.out_path(q))
            if q in ORACLE:
                self.fail(checks.check_oracle(q, got, run_oracle(ORACLE[q], sf)))
            else:
                planted = self.cur["near_pairs"] + self.cur["exact_pairs"]
                self.fail(checks.check_minhash(got, self.cur["texts"], planted))
                self.recall.append(checks.minhash_recall(got, planted))

    def layer_metrics(self) -> dict[str, float]:
        ops = ("datamodel.scan", "sources.refcorpus_scan", "sources.write_kv", "mapreduce.task1",
               "mapreduce.task2", "mapreduce.task3", "mapreduce.wordcount", "mapreduce.py_map")
        m = {f"{op}_s": self.median_s(op) for op in ops}
        for q, metric in CURATION_QUERIES:
            m[metric] = self.median_s(q)
        m["dedup.minhash_recall"] = statistics.median(self.recall) if self.recall else 0.0
        return m


# ---------------------------------------------------------------------------
# nightly ingest (traced topk_serve runs)
# ---------------------------------------------------------------------------

NIGHTLY_LEGS = ("bloom", "minhash", "substring", "cms", "embedding", "ivf", "pq", "ann_lsh")


class NightlyIngest:
    """The write path: a seed night and one marginal night through
    nightly_curation_update, then curation_state_audit. About a minute
    of work, so only traced runs make it (see Workload.after_passes)."""

    def __init__(self, wl: "Workload"):
        self.wl = wl
        self.batch = os.path.join(wl.work, "batch")
        self.state = os.path.join(wl.work, "state")
        self.leg_times: dict[str, float] = {}
        self.night_self: dict[str, float] = {}
        self.state_ratio = 0.0

    def _night(self, name: str) -> None:
        from mpi_mapreduce_spark.operators import nightly

        wl, src = self.wl, self.wl.inputs["nights_dir"]
        for sub in ("docs", "vecs"):
            os.makedirs(os.path.join(self.batch, sub), exist_ok=True)
            shutil.copy(
                os.path.join(src, name, sub, f"{name}.parquet"),
                os.path.join(self.batch, sub, f"{name}.parquet"),
            )
        self.leg_times = {}
        out = None
        with wl.op("nightly.night", "operators.nightly"):
            with wl.tracer.span("nightly_curation_update", "operators.nightly"):
                out, _ = nightly.nightly_curation_update(wl.spark, self.batch, self.state, timings=self.leg_times)
        dups = set(wl.inputs["night_dups"][name])
        if dups and out is not None:
            kept = {r[0] for r in out["minhash"].where("keep").select("doc_id").collect()}
            if kept & dups:
                wl.fail([f"nightly {name}: {len(kept & dups)} planted duplicates kept"])

    def run(self) -> None:
        """Seed night, marginal night (the one measured), audit: zero
        violations and the ingested sizes."""
        from mpi_mapreduce_spark.operators import nightly

        wl = self.wl
        self._night("seed")
        first = len(wl.tracer.spans)
        self._night("night")
        self.night_self = trace.self_times(wl.tracer.spans[first:])
        with wl.op("nightly.audit", "operators.nightly"):
            with wl.tracer.span("curation_state_audit", "operators.nightly"):
                audit = nightly.curation_state_audit(wl.spark, self.state).toPandas()
        wl.fail(
            checks.check_audit(
                audit,
                {
                    ("ledger", "n_files"): 4,
                    ("minhash", "n_signatures"): gen.NIGHT_SEED_DOCS + gen.NIGHT_DOCS,
                    ("embedding", "n_vectors"): gen.NIGHT_SEED_VECS + gen.NIGHT_VECS,
                },
            )
        )
        self.state_ratio = _dir_bytes(self.state) / _dir_bytes(wl.inputs["nights_dir"])

    def metrics(self) -> dict[str, float]:
        m = {f"nightly.{leg}_s": self.leg_times.get(leg, 0.0) for leg in NIGHTLY_LEGS}
        m["nightly.night_s"] = self.wl.times["nightly.night"][-1]  # the marginal night
        m["nightly.audit_s"] = self.wl.times["nightly.audit"][-1]
        m["nightly.state_bytes_per_input_byte"] = self.state_ratio
        m["self.operators.nightly_s"] = self.night_self.get("operators.nightly", 0.0)
        return m


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# ---------------------------------------------------------------------------
# topk_serve
# ---------------------------------------------------------------------------

WARM_ROUNDS = 3  # rounds in setup, before the measured ones


class TopkServe(Workload):
    """Single-query top-k requests, one at a time. A pass is one round:
    one knn, one ivf and one bm25 request in a seeded order."""

    name = "topk_serve"
    cold = False

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.next_request = 0
        self.answers: list[tuple[dict, list]] = []
        self.nightly: NightlyIngest | None = None
        self.ivf_recall = 0.0

    def setup(self) -> None:
        from mpi_mapreduce_spark import datamodel
        from mpi_mapreduce_spark.operators import similarity

        sf = self.inputs["sf_dir"]
        with self.tracer.span("load", "datamodel"):
            emb = datamodel.load_table(self.spark, sf, "embeddings")
            self.docs = datamodel.load_table(self.spark, sf, "documents")
        with self.tracer.span("normalized_corpus", "operators.similarity"):
            self.corpus = similarity.normalized_corpus(emb)
        with self.op("similarity.centroids", "operators.similarity"):
            self.cents = similarity.ivf_centroids(self.corpus)
        self.unit = checks.unit_rows(self.inputs["vectors"])
        for _ in range(WARM_ROUNDS):
            self.run_pass()
        centroids = self.times["similarity.centroids"]
        self.times.clear()
        self.times["similarity.centroids"] = centroids

    def _request(self, req: dict) -> list:
        from mpi_mapreduce_spark.operators import retrieval, similarity

        kind, qid = req["kind"], req["query_id"]
        layer = "operators.retrieval" if kind == "bm25" else "operators.similarity"
        rows: list = []
        with self.op(f"serve.{kind}", layer, new_trace=True):
            t = time.perf_counter()
            with self.tracer.span("construct", layer):
                if kind == "bm25":
                    df = retrieval.bm25_topk(self.docs, [(qid, req["query"])]).select("doc_id", "score", "rnk")
                else:
                    q = np.asarray(req["query"], dtype=np.float64)
                    qv = (q / np.linalg.norm(q)).tolist()
                    queries = self.spark.createDataFrame([(qid, qv)], "query_id long, qv array<double>")
                    fn = similarity.knn_topk if kind == "knn" else similarity.ann_ivf
                    args = (self.corpus, queries) if kind == "knn" else (self.corpus, queries, self.cents)
                    df = fn(*args).select("vec_id", "cosine", "rank")
            t2 = time.perf_counter()
            with self.tracer.span("execute", "spark"):
                rows = [tuple(r) for r in df.collect()]
            t3 = time.perf_counter()
        self.times.setdefault(f"{kind}.plan", []).append(t2 - t)
        self.times.setdefault(f"{kind}.exec", []).append(t3 - t2)
        return rows

    def run_pass(self) -> None:
        reqs = self.inputs["requests"]
        for _ in range(len(gen.REQUEST_TYPES)):
            req = reqs[self.next_request % len(reqs)]
            self.next_request += 1
            self.answers.append((req, self._request(req)))

    def finish(self) -> None:
        """Check every answer of the run against NumPy / the BM25
        reference; IVF is held to a recall floor over the run."""
        recalls = []
        for req, rows in self.answers:
            if req["kind"] == "bm25":
                self.fail(checks.check_bm25(rows, self.inputs["texts"], req["query"]))
                continue
            q = np.asarray(req["query"], dtype=np.float64)
            errs, recall = checks.check_topk(req["kind"], rows, self.unit, q / np.linalg.norm(q))
            self.fail(errs)
            if req["kind"] == "ivf":
                recalls.append(recall)
        if recalls:
            self.ivf_recall = float(np.mean(recalls))
            if self.ivf_recall < checks.IVF_MIN_RECALL:
                self.fail([f"ivf: mean recall {self.ivf_recall:.3f} < {checks.IVF_MIN_RECALL}"])

    def between(self) -> int:
        """Serving is warm: what the engine keeps cached stays for the
        next round (and shows in ``heap_mb``). Only count it."""
        return sparkstats.persisted_rdds(self.spark)

    def after_passes(self) -> None:
        """The nightly write path of the stored indexes serving reads."""
        self.nightly = NightlyIngest(self)
        self.nightly.run()

    def layer_metrics(self) -> dict[str, float]:
        m = self.nightly.metrics() if self.nightly else {}
        m["similarity.centroids_s"] = self.median_s("similarity.centroids")
        for kind, layer in (("knn", "similarity"), ("ivf", "similarity"), ("bm25", "retrieval")):
            m[f"{layer}.{kind}_plan_ms"] = 1000 * self.median_s(f"{kind}.plan")
            m[f"{layer}.{kind}_exec_ms"] = 1000 * self.median_s(f"{kind}.exec")
            m[f"serve.{kind}_p50_ms"] = 1000 * self.median_s(f"serve.{kind}")
        m["similarity.ivf_recall"] = self.ivf_recall
        return m


WORKLOADS = {w.name: w for w in (BatchCorpus, TopkServe)}
