"""The benchmark's workloads, driven through the package's public API.

Both workloads are closed loops with one client: every library call
waits for its result before the next is made. A run makes a fixed
number of timed cycles, however fast they go, so every run of a
workload does the same work: ingest_bulk makes two, refresh_mixed one
(two when traced).

- ``ingest_bulk``: each cycle reads a seeded JSONL file, runs ``ingest``
  against a registry (10% of docs unmatched) and an
  already-ingested snapshot (another 10%), writes the chunks as bulk
  Parquet files, inserts them into the run's collection and searches
  it. Sources, joins, chunking, embedding and sinks do most of the work.
- ``refresh_mixed``: a standing collection of about 3,600 chunks plus a
  MinHash index take refresh files (about 30% near-duplicates of
  standing docs) through ``stream_ingest_jsonl`` with the near-duplicate
  gate; each cycle inserts the micro-batch, deletes a standing doc and
  searches beside the writes. It is the only workload that runs dedup
  and streaming.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import embedding_to_vectordatabase_spark.client as client_mod
import embedding_to_vectordatabase_spark.operators.dedup as dedup_mod
import embedding_to_vectordatabase_spark.operators.search as search_mod
import embedding_to_vectordatabase_spark.plans.ingest as ingest_mod
import embedding_to_vectordatabase_spark.sinks.parquet_sink as sink_mod
import embedding_to_vectordatabase_spark.sources.corpus as corpus_mod
import embedding_to_vectordatabase_spark.streaming.ingest_stream as stream_mod
from embedding_to_vectordatabase_spark.operators.embedding import (
    MockEmbeddingClient,
)
from embedding_to_vectordatabase_spark.schemas import DOC_SCHEMA
from embedding_to_vectordatabase_spark.store import rel_path

import gen
from spans import EngineCounter, Tracer, materialize, peak_rss_mb

DIM = 1024
TOP_K = 5
ID_BLOCK = 1_000_000  # qa_id = file_id * ID_BLOCK + block_id
# the two pre-filter selectivities (about 10% and 1% of file ids)
FILTERS = ("file_id % 10 = 3", "file_id % 100 = 7")
# Per timed cycle: insert calls a cycle's chunks are split into, and
# single-query searches. A search or an insert call is mostly fixed
# Spark cost (about 2 s and 1 s), so these counts set a run's length.
BULK_CYCLES, BULK_INSERTS = 2, 3
REFRESH_INSERTS, REFRESH_SEARCHES = 4, 5
# docs per file, and queries in the traced run's batched search
SIZES = {
    "full": {"bulk_docs": 1000, "standing_docs": 2000, "refresh_docs": 100,
             "recall_queries": 32},
    "tiny": {"bulk_docs": 30, "standing_docs": 80, "refresh_docs": 12,
             "recall_queries": 4},
}
END_TO_END = {"setup_s": "s", "ingest_chunks_per_s": "1/s",
              "insert_p50_s": "s", "search_p50_s": "s",
              "success_rate": "ratio", "peak_rss_mb": "MB"}


def ingest_config():
    return ingest_mod.IngestConfig(dense_dim=DIM, mock_cost_floor_s=0.0)


def with_unique_ids(chunks):
    """``ingest`` leaves the placeholder qa_id=0 on every row, and the
    client keys on qa_id, so every insert needs a real id first."""
    return chunks.withColumn(
        "qa_id", F.col("file_id") * ID_BLOCK + F.col("block_id"))


def pick(chunks, n: int, seed: int):
    """A few seeded rows of a small chunk frame, without a sort."""
    cols = ("qa_id", "content", "dense_embedding")
    return (chunks.filter(F.rand(seed) < 0.1).limit(n).select(*cols).collect()
            or chunks.limit(n).select(*cols).collect())


def p50(xs):
    return statistics.median(xs) if xs else 0.0


def ratio(a, b):
    """a / b, or 0 when b is 0 (nothing was timed or counted, as when
    every operation of its kind failed)."""
    return a / b if b else 0.0


class Run:
    """State of one benchmark run: session, tracer, engine counters,
    operation outcomes and timing samples."""

    def __init__(self, spark, work: str, seed: int, trace: bool, size: str,
                 t_start: float):
        self.spark = spark
        self.t_start = t_start  # process start: set-up time counts from here
        self.sc = spark.sparkContext
        self.work = work
        self.seed = seed
        self.size = SIZES[size]
        self.tracer = Tracer(trace)
        self.traced = trace
        self.engine = EngineCounter(self.sc)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.metrics: dict[str, float] = {}
        self._op_ok = self.last_ok = True
        self._ops = 0

    # -- outcomes -----------------------------------------------------------

    @contextmanager
    def operation(self, kind: str):
        """One attempted operation: it fails if it raises or if a check
        made inside it fails."""
        self._ops += 1
        self.attempted += 1
        self._op_ok = True
        self.tracer.op = f"{kind}-{self._ops}"
        try:
            yield
        except Exception:  # a failed call is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            self._op_ok = False
            self.problems.append(f"{kind}: raised")
        finally:
            if not self._op_ok:
                self.failed += 1
            self.last_ok = self._op_ok
            self.tracer.op = None

    def mark(self, what: str) -> None:
        """Progress log: seconds since process start at the end of a phase."""
        print(f"perfbench: {time.perf_counter() - self.t_start:7.2f} s {what}",
              file=sys.stderr)

    def crashed(self) -> None:
        """A workload raised outside any operation (in its own code):
        the run still reports, with that counted as one failure."""
        traceback.print_exc(file=sys.stderr)
        self.attempted += 1
        self.failed += 1
        self.problems.append("workload: raised")

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self._op_ok = False
            self.problems.append(what)

    @contextmanager
    def paused(self):
        """Untraced work: set-up and output checks."""
        was = self.tracer.enabled
        self.tracer.enabled = False
        try:
            yield
        finally:
            self.tracer.enabled = was

    def traced_cycle(self, cycle: int) -> bool:
        """In a traced run every other cycle runs untraced: those give
        the engine counts and the tracing overhead."""
        on = self.traced and cycle % 2 == 0
        self.tracer.enabled = on
        return on

    # -- calls shared by both workloads -------------------------------------

    def search(self, client, vectors, kind="search", expr=None):
        t0 = time.perf_counter()
        with self.engine.group(kind, record=not self.tracer.enabled):
            rows = client.search(vectors, top_k=TOP_K, expr=expr).collect()
        self.samples[kind].append(time.perf_counter() - t0)
        return rows

    def insert(self, client, rows):
        t0 = time.perf_counter()
        with self.engine.group("insert", record=not self.tracer.enabled):
            client.insert(rows)
        dt = time.perf_counter() - t0
        self.samples["insert"].append(dt)
        return dt

    def split(self, chunks, parts: int) -> list:
        """A cycle's chunks as ``parts`` materialized frames, so that an
        insert call times the insert, not the read of its input."""
        with self.paused():
            return [chunks.filter(F.col("qa_id") % parts == i)
                    .localCheckpoint(eager=True) for i in range(parts)]

    def insert_op(self, client, rows) -> float:
        """One insert operation; its seconds, or 0 if it failed."""
        dt = 0.0
        with self.operation("insert"):
            dt = self.insert(client, rows)
        return dt if self.last_ok else 0.0

    def self_query(self, client, probe, what: str):
        """A stored chunk queried by its own vector comes back at rank 1."""
        hits = self.search(client, [probe["dense_embedding"]])
        top = [h["qa_id"] for h in hits if h["rank"] == 1]
        self.check(top == [probe["qa_id"]],
                   f"{what}: self-query of {probe['qa_id']} -> {top}")
        return hits

    def query_mix(self, client, queries: Queries, n: int, what: str,
                  deleted=frozenset()) -> None:
        """n single-query searches from ``queries``: a perturbed stored
        vector finds its origin at rank 1 (unless deleted), an
        embedding of unseen text gets a full top-k."""
        for _ in range(n):
            with self.operation("search"):
                qa_id, vec = queries.next()
                hits = self.search(client, [vec])
                top = [h["qa_id"] for h in hits if h["rank"] == 1]
                if qa_id is None:
                    self.check(len(hits) == TOP_K, f"{what}: short result")
                elif qa_id not in deleted:
                    self.check(top == [qa_id],
                               f"{what}: perturbed {qa_id} -> {top}")
                back = {h["qa_id"] for h in hits} & deleted
                self.check(not back, f"{what}: deleted ids came back {back}")

    def check_vectors(self, rows, what: str) -> None:
        mock = MockEmbeddingClient(dim=DIM)
        for r in rows:
            want = mock.embed([r["content"]])[0]
            self.check(list(r["dense_embedding"]) == want,
                       f"{what}: vector of qa_id {r['qa_id']} != mock")

    def check_unique(self, df, what: str) -> int:
        r = df.agg(F.count("*").alias("n"),
                   F.countDistinct("qa_id").alias("d")).first()
        self.check(r["n"] == r["d"], f"{what}: qa_id not unique")
        return r["n"]

    def new_client(self, name: str):
        return client_mod.VectorCollectionClient(
            self.spark, f"{self.work}/{name}", dim=DIM)

    def finish(self, client) -> dict:
        """End-to-end metrics, and in a traced run the store's segment
        counts."""
        if self.traced:
            with self.paused():
                coll = self.spark.read.parquet(
                    rel_path(self.spark, client.root_path, "collection"))
                self.metrics["store.collection_files"] = float(
                    len(coll.inputFiles()))
                self.metrics["store.index_files"] = float(sum(
                    r["n_files"] for r in client.stats().collect()))
        self.metrics["peak_rss_mb"] = peak_rss_mb()
        self.metrics["success_rate"] = (
            1.0 - self.failed / self.attempted if self.attempted else 0.0)
        self.metrics["insert_p50_s"] = p50(self.samples["insert"])
        self.metrics["search_p50_s"] = p50(self.samples["search"])
        return self.metrics


class Queries:
    """Precomputed query vectors: a pool of stored chunks to perturb and
    embeddings of text the corpus never holds."""

    def __init__(self, seed: int, pool_rows):
        self.rng = np.random.default_rng(seed)
        self.pool = [(r["qa_id"], np.array(r["dense_embedding"]))
                     for r in pool_rows]
        self.unseen = MockEmbeddingClient(dim=DIM).embed(
            gen.unseen_queries(seed, 64))
        self._n = 0

    def perturbed(self, i: int):
        qa_id, v = self.pool[i % len(self.pool)]
        q = v + self.rng.normal(0.0, 0.004, v.shape)
        return qa_id, (q / np.linalg.norm(q)).astype(np.float32).tolist()

    def next(self):
        """Alternately a perturbed stored vector, with the qa_id of its
        origin, and an embedding of unseen text, with None."""
        i, self._n = self._n // 2, self._n + 1
        if self._n % 2:
            return self.perturbed(i)
        return None, self.unseen[i % len(self.unseen)]


# -- tracing wrappers ---------------------------------------------------------


def install_tracing(run: Run) -> None:
    """Wrap every layer entry point the workloads reach. A wrapper is a
    pass-through while the tracer is disabled."""
    tr = run.tracer

    def layer(name, counter=None):
        def factory(orig):
            def wrapped(*a, **kw):
                if not tr.enabled:
                    return orig(*a, **kw)
                with tr.span(name):
                    out = orig(*a, **kw)
                    if isinstance(out, tuple):
                        out = tuple(materialize(o) for o in out)
                    elif isinstance(out, DataFrame):
                        out = materialize(out)
                if counter is not None:
                    counter(a, kw, out)
                return out
            return wrapped
        return factory

    def c_sources(a, kw, out):
        tr.count("sources.rows_out", out.count())

    def c_lookup(a, kw, out):
        matched, unmatched = out
        tr.count("joins.rows_in", a[0].count())
        tr.count("joins.matched", matched.count())
        tr.count("joins.unmatched", unmatched.count())

    def c_anti(a, kw, out):
        tr.count("joins.skipped_ingested", a[0].count() - out.count())

    def c_chunk(a, kw, out):
        text_col = a[1] if len(a) > 1 else kw.get("text_col", "content")
        tr.count("chunking.docs_in", a[0].count())
        tr.count("chunking.chunks_out", out.count())
        tr.count("chunking.chars_in", a[0].agg(
            F.sum(F.length(text_col))).first()[0] or 0)
        tr.count("chunking.chars_out", out.agg(
            F.sum(F.length("chunk"))).first()[0] or 0)

    def c_embed(a, kw, out):
        tr.count("embedding.texts_in", out.count())

    def c_probe(a, kw, out):
        new_docs = a[2] if len(a) > 2 else kw["new_docs"]
        n_in = new_docs.count()
        tr.count("dedup.docs_in", n_in)
        tr.count("dedup.docs_dropped", n_in - out.count())

    tr.install(corpus_mod, "read_jsonl", layer("sources", c_sources))
    tr.install(ingest_mod, "with_row_numbers_scalable", layer("sources"))
    tr.install(ingest_mod, "with_file_name", layer("sources"))
    tr.install(ingest_mod, "registry_lookup", layer("joins", c_lookup))
    tr.install(ingest_mod, "anti_join_ingested", layer("joins", c_anti))
    tr.install(ingest_mod, "chunk_recursive", layer("chunking", c_chunk))
    tr.install(ingest_mod, "embed_text", layer("embedding", c_embed))
    tr.install(search_mod, "upsert_sq8_index", layer("search.upsert"))
    tr.install(search_mod, "dense_topk", layer("search.exact"))
    tr.install(dedup_mod, "dedup_against_index", layer("dedup.probe", c_probe))
    tr.install(dedup_mod, "upsert_minhash_index", layer("dedup.upsert"))

    def sink_factory(orig):
        def wrapped(df, path, *a, **kw):
            if not tr.enabled:
                return orig(df, path, *a, **kw)
            with tr.span("sinks"):
                orig(df, path, *a, **kw)
            files = [os.path.join(d, f) for d, _, fs in os.walk(path)
                     for f in fs if f.startswith("part-")]
            tr.count("sinks.files", len(files))
            tr.count("sinks.bytes", sum(os.path.getsize(f) for f in files))
            tr.count("sinks.chunks", run.spark.read.parquet(path).count())
        return wrapped

    tr.install(sink_mod, "write_rotating_parquet", sink_factory)

    def topk_factory(orig):
        # scan = sq8_topk_index without refine; refine = with minus without
        def wrapped(spark, index_path, queries, **kw):
            if not tr.enabled:
                return orig(spark, index_path, queries, **kw)
            queries = materialize(queries)
            if kw.get("allowed_ids") is not None:
                with tr.span("search.filter"):
                    kw["allowed_ids"] = materialize(kw["allowed_ids"])
                cand = kw["allowed_ids"].count()
            else:
                cand = spark.read.parquet(
                    rel_path(spark, index_path, "codes")).count()
            tr.count("search.calls")
            tr.count("search.candidates", cand)
            with tr.span("search.scan"):
                materialize(orig(spark, index_path, queries,
                                 **{**kw, "refine": None}))
            with tr.span("search.scan_refine"):
                out = materialize(orig(spark, index_path, queries, **kw))
            return out
        return wrapped

    tr.install(search_mod, "sq8_topk_index", topk_factory)

    VC = client_mod.VectorCollectionClient
    tr.install(VC, "insert", layer("client.insert"))
    tr.install(VC, "delete", layer("client.delete"))
    tr.install(VC, "search", layer("client.search"))


def layer_metrics(run: Run) -> dict:
    """Every per-layer metric, 0 for a layer the workload left idle."""
    st = run.tracer.self_times()
    c = run.tracer.counts
    m = run.metrics
    out = {
        "session.start_s": m.get("session.start_s", 0.0),
        "sources.busy_s": st["sources"],
        "sources.rows_out": c["sources.rows_out"],
        "joins.busy_s": st["joins"],
        "joins.rows_in": c["joins.rows_in"],
        "joins.matched": c["joins.matched"],
        "joins.unmatched": c["joins.unmatched"],
        "joins.skipped_ingested": c["joins.skipped_ingested"],
        "joins.useful_ratio": ratio(
            c["joins.matched"] - c["joins.skipped_ingested"],
            c["joins.rows_in"]),
        "chunking.busy_s": st["chunking"],
        "chunking.docs_in": c["chunking.docs_in"],
        "chunking.chunks_out": c["chunking.chunks_out"],
        "chunking.chars_out_per_char_in": ratio(
            c["chunking.chars_out"], c["chunking.chars_in"]),
        "embedding.busy_s": st["embedding"],
        "embedding.texts_in": c["embedding.texts_in"],
        "embedding.texts_per_s": ratio(
            c["embedding.texts_in"], st["embedding"]),
        "sinks.busy_s": st["sinks"],
        "sinks.files": c["sinks.files"],
        "sinks.bytes": c["sinks.bytes"],
        "sinks.bytes_per_chunk": ratio(c["sinks.bytes"], c["sinks.chunks"]),
        "client.insert.busy_s": st["client.insert"],
        "client.delete.busy_s": st["client.delete"],
        "search.upsert.busy_s": st["search.upsert"],
        "store.collection_files": m.get("store.collection_files", 0.0),
        "store.index_files": m.get("store.index_files", 0.0),
        "search.scan.busy_s": st["search.scan"],
        "search.refine.busy_s": st["search.scan_refine"] - st["search.scan"],
        "search.filter.busy_s": st["search.filter"],
        "search.exact.busy_s": st["search.exact"],
        "search.candidates_per_query": ratio(
            c["search.candidates"], c["search.calls"]),
        "search.filtered_p50_s": p50(run.samples["filtered"]),
        "search.batch_qps": m.get("search.batch_qps", 0.0),
        "search.recall_at_5": m.get("search.recall_at_5", 0.0),
        "dedup.probe.busy_s": st["dedup.probe"],
        "dedup.upsert.busy_s": st["dedup.upsert"],
        "dedup.docs_in": c["dedup.docs_in"],
        "dedup.docs_dropped": c["dedup.docs_dropped"],
        "dedup.precision": m.get("dedup.precision", 0.0),
        "dedup.neardup_recall": m.get("dedup.neardup_recall", 0.0),
        "stream.docs_per_s": m.get("stream.docs_per_s", 0.0),
        "stream.start_s": p50(run.samples["stream_start"]),
        "stream.batch_s": p50(run.samples["stream_batch"]),
        "stream.batches": float(len(run.samples["stream_batch"])),
        "trace.overhead_ratio": ratio(p50(run.samples["cycle_traced"]),
                                      p50(run.samples["cycle_untraced"])),
    }
    for kind, jobs_key, tasks_key in (
        ("search", "engine.jobs_per_search", "engine.tasks_per_search"),
        ("insert", "engine.jobs_per_insert", None),
        ("ingest", "engine.jobs_per_ingest", "engine.tasks_per_ingest"),
    ):
        jobs, tasks = run.engine.per_op(kind)
        out[jobs_key] = jobs
        if tasks_key:
            out[tasks_key] = tasks
    return out


PER_LAYER = {
    "session.start_s": "s",
    "sources.busy_s": "s",
    "sources.rows_out": "count",
    "joins.busy_s": "s",
    "joins.rows_in": "count",
    "joins.matched": "count",
    "joins.unmatched": "count",
    "joins.skipped_ingested": "count",
    "joins.useful_ratio": "ratio",
    "chunking.busy_s": "s",
    "chunking.docs_in": "count",
    "chunking.chunks_out": "count",
    "chunking.chars_out_per_char_in": "ratio",
    "embedding.busy_s": "s",
    "embedding.texts_in": "count",
    "embedding.texts_per_s": "1/s",
    "sinks.busy_s": "s",
    "sinks.files": "count",
    "sinks.bytes": "B",
    "sinks.bytes_per_chunk": "B",
    "client.insert.busy_s": "s",
    "client.delete.busy_s": "s",
    "search.upsert.busy_s": "s",
    "store.collection_files": "count",
    "store.index_files": "count",
    "search.scan.busy_s": "s",
    "search.refine.busy_s": "s",
    "search.filter.busy_s": "s",
    "search.exact.busy_s": "s",
    "search.candidates_per_query": "count",
    "search.filtered_p50_s": "s",
    "search.batch_qps": "1/s",
    "search.recall_at_5": "ratio",
    "engine.jobs_per_search": "count",
    "engine.tasks_per_search": "count",
    "engine.jobs_per_insert": "count",
    "engine.jobs_per_ingest": "count",
    "engine.tasks_per_ingest": "count",
    "dedup.probe.busy_s": "s",
    "dedup.upsert.busy_s": "s",
    "dedup.docs_in": "count",
    "dedup.docs_dropped": "count",
    "dedup.precision": "ratio",
    "dedup.neardup_recall": "ratio",
    "stream.docs_per_s": "1/s",
    "stream.start_s": "s",
    "stream.batch_s": "s",
    "stream.batches": "count",
    "trace.overhead_ratio": "ratio",
}


# -- ingest_bulk --------------------------------------------------------------


def _bulk_inputs(run: Run, cycle: int, n_docs: int):
    """Write one cycle's file and build its registry and ingested
    snapshot. The registry names come from the package's own row
    numbering, so they match the file names ``ingest`` derives."""
    spark = run.spark
    batch = gen.bulk_batch(run.seed, cycle, n_docs)
    path = f"{run.work}/bulk_in/c{cycle}.jsonl"
    os.makedirs(os.path.dirname(path), exist_ok=True)
    gen.write_jsonl(path, batch["docs"])
    with run.paused():
        named = corpus_mod.with_file_name(corpus_mod.with_row_numbers_scalable(
            corpus_mod.read_jsonl(spark, path), ["title", "content"]))
        names = named.select("title", "file_name").collect()
    registry = spark.createDataFrame(
        [(gen.title_no(r["title"]), r["file_name"]) for r in names
         if r["title"] not in batch["unmatched"]],
        "id long, name string")
    ingested = spark.createDataFrame(
        [(gen.title_no(t),) for t in sorted(batch["ingested"])],
        "file_id long")
    skip = batch["unmatched"] | batch["ingested"]
    expected = sum(len(gen.oracle_chunks(d)) for d in batch["docs"]
                   if d["title"] not in skip)
    return path, registry, ingested, expected


def _bulk_cycle(run: Run, client, cycle: int, rng, queries=None) -> list:
    """One ingest cycle: ingest a file, then insert its chunks in parts.
    In a timed cycle each insert is followed by a search: first a chunk
    the insert just landed, then ``queries``. The untimed warm-up cycle
    (``queries`` None) inserts once and does not search. Returns a few
    of the cycle's chunks, [] if the ingest failed."""
    spark = run.spark
    warm_up = queries is None
    path, registry, ingested, expected = _bulk_inputs(
        run, cycle, run.size["bulk_docs"])
    out = f"{run.work}/bulk_out/c{cycle}"
    traced = False if warm_up else run.traced_cycle(cycle)
    sample: list = []
    with run.operation("ingest"):
        t0 = time.perf_counter()
        with run.engine.group("ingest", record=not traced):
            docs = corpus_mod.read_jsonl(spark, path)
            chunks, _ = ingest_mod.ingest(docs, registry, ingested,
                                          ingest_config())
            sink_mod.write_rotating_parquet(with_unique_ids(chunks), out)
        t_ingest = time.perf_counter() - t0
        with run.paused():
            bulk = spark.read.parquet(out)
            n = run.check_unique(bulk, "ingest_bulk")
            run.check(n == expected,
                      f"ingest_bulk: {n} chunks, oracle says {expected}")
            sample = pick(bulk, 16, rng.randrange(1 << 30))
            run.check_vectors(sample[:3], "ingest_bulk")
    if not run.last_ok:
        return []
    t_insert = 0.0
    for i, part in enumerate(
            run.split(spark.read.parquet(out), 1 if warm_up else BULK_INSERTS)):
        t_insert += run.insert_op(client, part)
        if warm_up:
            continue
        if i == 0:  # freshness: a chunk just inserted comes back at rank 1
            with run.operation("search"):
                run.self_query(client, pick(part, 1, cycle)[0], "ingest_bulk")
        else:
            run.query_mix(client, queries, 1, "ingest_bulk")
    run.samples["write_s"].append(t_ingest + t_insert)
    run.samples["chunks"].append(n)
    run.samples["cycle_traced" if traced else "cycle_untraced"].append(
        t_ingest + t_insert)
    return sample


def ingest_bulk(run: Run) -> dict:
    rng = random.Random(run.seed)
    with run.paused():
        client = run.new_client("bulk_coll")
        # warm-up: one full-size pass pays Python worker start and JIT
        # (after a smaller one the first timed ingest still ran about
        # 1.5 s slow), and its chunks are the stored vectors the timed
        # loop perturbs
        run.mark("session")
        pool = _bulk_cycle(run, client, 0, rng)
        queries = Queries(run.seed, pool)
        for probe in pool[:1]:
            with run.operation("search"):
                run.self_query(client, probe, "ingest_bulk")
        run.samples.clear()
    run.metrics["setup_s"] = time.perf_counter() - run.t_start
    run.mark("set-up")
    for cycle in range(1, BULK_CYCLES + 1):
        _bulk_cycle(run, client, cycle, rng, queries)
        run.mark(f"cycle {cycle}")
    run.metrics["ingest_chunks_per_s"] = ratio(
        sum(run.samples["chunks"]), sum(run.samples["write_s"]))
    return run.finish(client)


# -- refresh_mixed --------------------------------------------------------------


def _registry(spark, docs):
    return spark.createDataFrame(
        [(gen.title_no(d["title"]), f"{d['title']}_{gen.title_no(d['title'])}.pdf")
         for d in docs], "id long, name string")


def _numbered(docs_df):
    """row_no from the title's global number: file names (and so
    registry rows) are known before the docs reach Spark."""
    return docs_df.withColumn(
        "row_no", F.regexp_extract("title", r"n(\d+)$", 1).cast("long"))


def _batch_fn(src, registry):
    chunks, _ = ingest_mod.ingest(_numbered(src), registry,
                                  config=ingest_config())
    return with_unique_ids(chunks)


class Refresh:
    """The standing state of refresh_mixed and one refresh cycle.

    The standing corpus goes in through the batch path (``ingest``,
    ``insert``, ``build_minhash_index``); set-up ends with one probe of
    the near-dup gate and one untimed search. The stream itself gets no
    warm-up pass: a micro-batch costs about 8 s, more than the run
    budget can spare."""

    def __init__(self, run: Run):
        self.run = run
        spark = run.spark
        w = run.work
        self.src, self.out = f"{w}/stream_src", f"{w}/stream_out"
        self.ckpt, self.minhash = f"{w}/stream_ckpt", f"{w}/minhash"
        os.makedirs(self.src, exist_ok=True)
        self.deleted: set[int] = set()
        self.neardups = self.neardups_dropped = 0
        self.dropped = self.dropped_seeded = 0
        self.standing = gen.standing_corpus(run.seed,
                                            run.size["standing_docs"])
        # standing docs not yet deleted, by file_id
        self.live = {gen.title_no(d["title"]): d for d in self.standing}
        self.client = run.new_client("refresh_coll")
        pool: list = []
        run.mark("session")
        with run.operation("standing"):
            path = f"{w}/standing.jsonl"
            gen.write_jsonl(path, self.standing)
            docs = corpus_mod.read_jsonl(spark, path)
            chunks = _batch_fn(docs, _registry(spark, self.standing)
                               ).localCheckpoint(eager=True)
            n = run.check_unique(chunks, "standing")
            expected = sum(len(gen.oracle_chunks(d)) for d in self.standing)
            run.check(n == expected,
                      f"standing: {n} chunks, oracle says {expected}")
            run.insert(self.client, chunks)
            dedup_mod.build_minhash_index(docs, self.minhash,
                                          text_col="content", id_col="title")
            pool = pick(chunks, 64, run.seed)
        run.mark("standing state")
        self.warm_gate()
        self.queries = Queries(run.seed, pool)
        run.query_mix(self.client, self.queries, 1, "standing")

    def warm_gate(self) -> None:
        """Probe the MinHash index once with a small refresh-like file,
        outside the stream: the near-dup probe is about half of a
        micro-batch, and its first run is about 1 s slower than later
        ones. Exact copies of standing docs must not survive it."""
        run, spark = self.run, self.run.spark
        batch = gen.refresh_batch(run.seed, 0, run.size["refresh_docs"] // 5,
                                  self.standing)
        path = f"{run.work}/gate_warm.jsonl"
        gen.write_jsonl(path, batch["docs"])
        with run.operation("dedup"):
            kept = {r["title"] for r in dedup_mod.dedup_against_index(
                spark, self.minhash, corpus_mod.read_jsonl(spark, path),
                text_col="content", id_col="title", intra_batch=True,
                exclude_self=True).select("title").collect()}
            run.check(not kept & batch["exact"],
                      f"gate: exact copies kept {sorted(kept & batch['exact'])}")

    def stream_file(self, name: str, batch: dict):
        """Drop one JSONL file and run the stream over it; check the
        micro-batch's chunks. Returns (chunks, kept file ids, dropped
        titles, write seconds)."""
        run, spark = self.run, self.run.spark
        gen.write_jsonl(f"{self.src}/{name}.jsonl", batch["docs"])
        registry = _registry(spark, batch["docs"])
        t0 = time.perf_counter()
        q = stream_mod.stream_ingest_jsonl(
            spark, self.src, self.out, self.ckpt, registry, batch_fn=_batch_fn,
            available_now=True, neardup_index_path=self.minhash,
            neardup_text_col="content", neardup_id_col="title")
        run.samples["stream_start"].append(time.perf_counter() - t0)
        q.awaitTermination()
        t_stream = time.perf_counter() - t0
        run.check(q.exception() is None, "refresh: stream failed")
        progress = [p for p in q.recentProgress if p["numInputRows"]]
        run.check(len(progress) == 1,
                  f"refresh: {len(progress)} micro-batches for one file")
        run.samples["stream_batch"].extend(
            p["durationMs"]["triggerExecution"] / 1000.0 for p in progress)
        with run.paused():
            new = spark.read.parquet(
                f"{self.out}/batch_id={progress[-1]['batchId']}"
            ).localCheckpoint(eager=True)
            ids = new.select("qa_id", "file_id").collect()
            n = len(ids)
            run.check(len({r["qa_id"] for r in ids}) == n,
                      "refresh: qa_id not unique")
            kept = {r["file_id"] for r in ids}
            by_no = {gen.title_no(d["title"]): d for d in batch["docs"]}
            dropped = {d["title"] for no, d in by_no.items()
                       if no not in kept}
            run.check(batch["exact"] <= dropped,
                      f"refresh: exact copies kept "
                      f"{sorted(batch['exact'] - dropped)}")
            expected = sum(len(gen.oracle_chunks(by_no[no]))
                           for no in kept if no in by_no)
            run.check(n == expected and kept <= by_no.keys(),
                      f"refresh: {n} chunks, oracle says {expected}")
            run.check_vectors(new.limit(2).collect(), "refresh")
        return new, kept, dropped, t_stream

    def self_query(self, part, c: int):
        """The newest chunks are searchable at once."""
        hits = self.run.self_query(self.client, pick(part, 1, c)[0],
                                   "refresh")
        self.check_hits(hits, "refresh")

    def check_hits(self, hits, what: str) -> None:
        back = {h["qa_id"] for h in hits} & self.deleted
        self.run.check(not back, f"{what}: deleted ids came back {back}")

    def cycle(self, c: int) -> None:
        run = self.run
        batch = gen.refresh_batch(run.seed, c, run.size["refresh_docs"],
                                  self.standing)
        traced = run.traced_cycle(c)
        with run.operation("refresh"):
            new, kept, dropped, t_stream = self.stream_file(f"r{c}", batch)
            n_chunks = new.count()
            seeded = batch["neardups"] & dropped
            self.neardups += len(batch["neardups"])
            self.neardups_dropped += len(seeded)
            self.dropped += len(dropped)
            self.dropped_seeded += len(seeded)
        if not run.last_ok:
            return
        # reads beside the writes: after each insert a search, first for
        # a chunk that insert landed, then for perturbed stored vectors
        # and embeddings of unseen text
        t_insert = 0.0
        for i, part in enumerate(run.split(new, REFRESH_INSERTS)):
            t_insert += run.insert_op(self.client, part)
            if i == 0:
                with run.operation("search"):
                    self.self_query(part, c)
            else:
                run.query_mix(self.client, self.queries, 1, "refresh",
                              self.deleted)
        run.samples["write_s"].append(t_stream + t_insert)
        run.samples["chunks"].append(n_chunks)
        run.samples["docs"].append(len(batch["docs"]))
        run.samples["cycle_traced" if traced else "cycle_untraced"].append(
            t_stream + t_insert)
        self.delete(c)
        run.query_mix(self.client, self.queries,
                      REFRESH_SEARCHES - REFRESH_INSERTS, "refresh",
                      self.deleted)

    def delete(self, c: int) -> None:
        """Delete one standing doc's chunks by file_id."""
        run = self.run
        fids = sorted(self.live)
        fid = fids[(run.seed * 7919 + c) % len(fids)]
        want = len(gen.oracle_chunks(self.live.pop(fid)))
        with run.operation("delete"):
            n = self.client.delete(f"file_id = {fid}")
            run.check(n == want, f"refresh: delete of file {fid} removed "
                                 f"{n}, oracle says {want}")
            self.deleted.update(fid * ID_BLOCK + b for b in range(want))


def refresh_mixed(run: Run) -> dict:
    with run.paused():
        ref = Refresh(run)
        run.samples.clear()
    run.metrics["setup_s"] = time.perf_counter() - run.t_start
    run.mark("set-up")
    # a traced run adds a traced cycle after the untraced one
    for c in range(1, 3 if run.traced else 2):
        ref.cycle(c)
        run.mark(f"cycle {c}")
    write_s = sum(run.samples["write_s"])
    m = run.metrics
    m["ingest_chunks_per_s"] = ratio(sum(run.samples["chunks"]), write_s)
    m["stream.docs_per_s"] = ratio(sum(run.samples["docs"]), write_s)
    m["dedup.neardup_recall"] = ratio(ref.neardups_dropped, ref.neardups)
    m["dedup.precision"] = ratio(ref.dropped_seeded, ref.dropped)
    if run.traced:
        _recall_phase(run, ref)
    return run.finish(ref.client)


def _recall_phase(run: Run, ref: Refresh) -> None:
    """Traced runs only: pre-filtered searches at both selectivities,
    then a 32-query batched search checked against exact ``dense_topk``
    over the same collection (batch throughput and recall@5)."""
    spark = run.spark
    for i, expr in enumerate(FILTERS * 2):
        # the first pass is timed untraced, the second gives the spans
        run.tracer.enabled = i >= len(FILTERS)
        with run.operation("search"):
            hits = run.search(ref.client, [ref.queries.unseen[i]],
                              kind="filtered" if i < len(FILTERS) else
                              "filtered_traced", expr=expr)
            mod, rem = (10, 3) if expr == FILTERS[0] else (100, 7)
            run.check(all(h["file_id"] % mod == rem for h in hits),
                      f"refresh: filter {expr!r} leaked")
            ref.check_hits(hits, "filtered")
    n = run.size["recall_queries"]
    queries = [ref.queries.next()[1] for _ in range(n)]
    with run.operation("search"):
        with run.paused():
            t0 = time.perf_counter()
            hits = ref.client.search(queries, top_k=TOP_K).collect()
            run.metrics["search.batch_qps"] = n / (time.perf_counter() - t0)
        coll = spark.read.parquet(
            rel_path(spark, ref.client.root_path, "collection"))
        qdf = spark.createDataFrame(list(enumerate(queries)),
                                    "query_id long, dense_embedding array<float>")
        exact = search_mod.dense_topk(
            coll, qdf, "dense_embedding", "dense_embedding", "qa_id",
            k=TOP_K, metric="L2").collect()
        got = {(h["query_id"], h["qa_id"]) for h in hits}
        want = {(e["query_id"], e["qa_id"]) for e in exact}
        run.metrics["search.recall_at_5"] = len(got & want) / len(want)
        ref.check_hits(hits, "recall")


WORKLOADS = {"ingest_bulk": ingest_bulk, "refresh_mixed": refresh_mixed}
