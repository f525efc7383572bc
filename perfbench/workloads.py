"""The benchmark's workloads. Each one drives the engine only through
its public layer functions on inputs from gen.py, and checks every
result it can against the DuckDB oracle the engine's query registry
pairs with that path.

- `curate`: a batch job — pipeline_clean_corpus (quality gate, exact
  dedup, MinHash-LSH near-dup, per-source stats) then
  dedup_embedding_cosine_ivf (int8 k-means-blocked embedding dedup
  through mapInPandas/applyInPandas). One operation = one whole job.
- `serve_ingest`: one closed-loop client against a BM25 index built
  in set-up over the even-doc_id half of a corpus. It sends top-k
  requests (read_bm25_index + bm25_topk_from_index), and after every
  REQUESTS_PER_BATCH requests lands the next micro-batch of odd-id
  docs as a parquet file, drives run_append_stream (one
  append_bm25_index manifest commit per batch) and reads a probe of
  the new docs back through top-k.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

import gen

CURATE_DOCS = 2000
CURATE_VECS = 1000  # <= 8 cells x 250: the k the static IVF oracle pins
SERVE_DOCS = 2000  # base index = the 1000 even ids; 20-doc query block
QUERY_BLOCK = 256  # the engine's BM25_QUERY_CAP; the corpus gives 20
# request sizes in query docs, 0 = the full block. Set 0 is the
# warm-up's; cycle c sends sets 2c + 1 and 2c + 2, so every cycle sends
# one single-doc and one full-block request, each a fresh sample
QUERY_SIZES = [0, 1] * 6
STREAM_BATCHES = 10  # the odd half, 100 docs per micro-batch
REQUESTS_PER_BATCH = 2
PROBE_ID0 = 10_000_000  # probe query ids: outside the corpus, % 100 == 0
# per-layer metrics only serve_ingest can measure (curate reports 0)
STREAM_LAYER_METRICS = (
    "streaming.batches", "streaming.add_batch_s", "streaming.planning_s",
    "streaming.wal_commit_s", "streaming.discovery_s", "storage.write.files",
    "storage.bytes_per_doc",
)


def _norm(rows) -> list[tuple]:
    """Order-free, type-free form of a result: the value-hash compare
    the engine's own oracle replay uses."""
    return sorted(tuple(str(v) for v in r) for r in rows)


def _p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


class Curate:
    name = "curate"
    cycle = 1  # operations per repeating cycle of the workload's mix
    # set-ups reported as the median; a session restart plus the input
    # check costs about a second, so five cost little and steady it
    setups = 5

    def __init__(self, ctx):
        self.ctx = ctx
        self.dir = os.path.join(ctx.work, "curate")
        self.lat: dict[str, list[float]] = {}
        self.cpu: dict[str, list[float]] = {}

    def generate(self) -> dict:
        return gen.curate_inputs(self.dir, self.ctx.seed, CURATE_DOCS, CURATE_VECS)

    def _oracles(self) -> tuple[list, list]:
        from mapreduce_distributed_systems_spark.operators.pipeline import PIPELINE_ORACLE
        from mapreduce_distributed_systems_spark.operators.similarity import EMB_IVF_ORACLE

        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')")
            return (_norm(con.execute(PIPELINE_ORACLE).fetchall()),
                    _norm(con.execute(EMB_IVF_ORACLE).fetchall()))
        finally:
            con.close()

    def setup(self, spark, tracer, i: int) -> None:
        """Session (started by the caller) plus the input check a batch
        job makes before it launches: both tables load and count."""
        from mapreduce_distributed_systems_spark.sources import load_table

        self.spark = spark
        with tracer.span("sources.load_table"):
            self.rows = [load_table(spark, self.dir, t).count() for t in ("documents", "embeddings")]

    def _timed_job(self, window: str) -> tuple[list, list]:
        from mapreduce_distributed_systems_spark.operators.pipeline import pipeline_clean_corpus
        from mapreduce_distributed_systems_spark.operators.similarity import dedup_embedding_cosine_ivf

        sp, tr = self.spark, self.ctx.tracer
        t0, c0 = time.perf_counter(), self.ctx.cpu()
        with tr.span("operators.pipeline_clean_corpus.build"):
            df = pipeline_clean_corpus(sp, self.dir)
        with tr.span("operators.pipeline_clean_corpus.exec"):
            stats = df.collect()
        with tr.span("operators.dedup_embedding_cosine_ivf.build"):
            df = dedup_embedding_cosine_ivf(sp, self.dir)
        with tr.span("operators.dedup_embedding_cosine_ivf.exec"):
            pairs = df.collect()
        self.lat.setdefault(window, []).append(time.perf_counter() - t0)
        self.cpu.setdefault(window, []).append(self.ctx.cpu() - c0)
        # the pipeline caches its kept-docs relation and leaves it
        # cached; evict so every job starts cache-cold
        sp.catalog.clearCache()
        return _norm(stats), _norm(pairs)

    def warm_up(self) -> tuple[int, int]:
        """One untimed job: codegen, the JIT and Python workers warm
        up (the first job in a JVM takes about three times as long).
        The DuckDB oracles run meanwhile, then check its result."""
        with ThreadPoolExecutor(max_workers=1) as pool:
            oracles = pool.submit(self._oracles)
            got = self._timed_job("warm")
            self.want = oracles.result()
        return 1, int(got != self.want)

    def op(self, window: str) -> bool:
        return self._timed_job(window) == self.want

    def gate(self) -> tuple[int, int]:
        """Every job was already checked against both oracles; what is
        left is the set-up's row counts."""
        return 1, int(self.rows != [CURATE_DOCS, CURATE_VECS])

    def op_latency(self, window: str) -> list[float]:
        return self.lat.get(window, [])

    def metrics(self) -> tuple[dict, dict]:
        """The bounded CPU metrics average every job of the run, the
        warm-up's included: a batch job runs in a JVM of its own, so
        its users pay the cold first job every time. The timed jobs
        alone give the wall figures and `job_cpu_s`."""
        jobs, cpu = self.lat["e2e"], self.cpu["e2e"]
        run_cpu = self.cpu["warm"] + cpu
        e2e = {
            "op_cpu_s": (statistics.fmean(run_cpu), "s"),
            "docs_per_cpu_s": (CURATE_DOCS * len(run_cpu) / sum(run_cpu), "1/s"),
        }
        named = {
            "job_s": (statistics.median(jobs), "s"),
            "job_cpu_s": (statistics.fmean(cpu), "s"),
            "cold_job_cpu_s": (self.cpu["warm"][0], "s"),
            "docs_per_s": (CURATE_DOCS * len(jobs) / sum(jobs), "1/s"),
            "docs_per_cpu_s": e2e["docs_per_cpu_s"],
            "jobs": (len(jobs), "count"),
        }
        return e2e, named

    def samples(self) -> dict:
        return {"job_s": self.lat, "job_cpu_s": self.cpu}

    def layer_extras(self) -> dict:
        return dict.fromkeys(STREAM_LAYER_METRICS, 0.0)  # no storage or streaming calls


class ServeIngest:
    name = "serve_ingest"
    cycle = REQUESTS_PER_BATCH + 1
    setups = 3  # each builds the base index (~5 s)

    def __init__(self, ctx):
        self.ctx = ctx
        self.dir = os.path.join(ctx.work, "corpus")
        self.src = os.path.join(ctx.work, "stream_src")
        self.ckpt = os.path.join(ctx.work, "stream_ckpt")
        self.req_lat: dict[str, list[float]] = {}
        self.req_cpu: dict[str, list[float]] = {}
        self.batch_cpu: dict[str, list[float]] = {}
        self.fresh_cpu: dict[str, list[float]] = {}
        self.req_docs: dict[str, int] = {}
        self.batch_lat: dict[str, list[float]] = {}
        self.fresh_lat: dict[str, list[float]] = {}
        self.batch_docs: dict[str, int] = {}
        self.requests: list[dict] = []  # (version, query ids, rows) to check
        self.progress: dict[str, list[dict]] = {}
        self.files_written: dict[str, list[int]] = {}
        self.landed: list[int] = []  # batch numbers, in landing order
        self.version_batches = {1: 0}  # manifest version -> batches in it
        self.step = 0

    def generate(self) -> dict:
        self.texts = gen.corpus(self.dir, self.ctx.seed, SERVE_DOCS)
        self.base = gen.split_even_odd(self.dir, self.texts)
        self.qsets = gen.query_sets(self.dir, self.ctx.seed, self.texts, QUERY_SIZES, QUERY_BLOCK)
        self.batches = gen.stream_batches(self.texts, STREAM_BATCHES)
        os.makedirs(self.src)
        return {
            "n_docs": SERVE_DOCS,
            "base_docs": len(range(0, SERVE_DOCS, 2)),
            "query_block": self.qsets[0]["n_queries"],
            "query_set_sizes": [q["n_queries"] for q in self.qsets],
            "stream_batches": STREAM_BATCHES,
            "batch_docs": len(self.batches[0]),
            "distinct_terms": gen.distinct_terms(self.texts),
            "corpus_bytes": os.path.getsize(f"{self.dir}/documents.parquet"),
        }

    def setup(self, spark, tracer, i: int) -> None:
        """Session (started by the caller) plus the base index build
        into a fresh directory; the last set-up's index is served."""
        from mapreduce_distributed_systems_spark.sources import load_table
        from mapreduce_distributed_systems_spark.storage.lexical_index import build_and_commit_bm25

        self.spark = spark
        if i == 0:
            with tracer.span("sources.load_table"):
                self.schema = load_table(spark, self.base, "documents").select("doc_id", "text").schema
        self.idx = os.path.join(self.ctx.work, f"index{i}")
        with tracer.span("storage.write.build_and_commit_bm25"):
            build_and_commit_bm25(spark, self.base, self.idx)
        if i > 0:
            shutil.rmtree(os.path.join(self.ctx.work, f"index{i - 1}"))

    # -- operations ---------------------------------------------------

    def _request(self, qdir: str) -> tuple[int, list]:
        from mapreduce_distributed_systems_spark.storage.lexical_index import (
            bm25_topk_from_index,
            read_bm25_index,
        )

        tr = self.ctx.tracer
        with tr.span("storage.read.read_bm25_index"):
            post, terms, _dl, manifest = read_bm25_index(self.spark, self.idx)
        with tr.span("storage.read.topk.build"):
            df = bm25_topk_from_index(self.spark, qdir, post, terms, manifest)
        with tr.span("storage.read.topk.exec"):
            rows = df.collect()
        return manifest["version"], rows

    def _send(self, window: str, qset: dict) -> bool:
        t0, c0 = time.perf_counter(), self.ctx.cpu()
        version, rows = self._request(qset["dir"])
        self.req_lat.setdefault(window, []).append(time.perf_counter() - t0)
        self.req_cpu.setdefault(window, []).append(self.ctx.cpu() - c0)
        self.req_docs[window] = self.req_docs.get(window, 0) + qset["n_queries"]
        self.requests.append({"version": version, "ids": qset["ids"], "rows": rows})
        return True  # checked against the oracle of its version in gate()

    def _land(self, b: int) -> None:
        ids = self.batches[b]
        path = os.path.join(self.src, f"batch-{b:04d}.parquet")
        tmp = os.path.join(self.ctx.work, f".landing-{b:04d}.parquet")
        gen.write_documents(tmp, ids, [self.texts[i] for i in ids])
        os.replace(tmp, path)  # the file appears whole, as an upload would
        self.landed.append(b)

    def _commit(self, window: str) -> None:
        from mapreduce_distributed_systems_spark.streaming.index_stream import run_append_stream

        tr = self.ctx.tracer
        with tr.span("streaming.run_append_stream") as sp:
            q = run_append_stream(self.spark, self.src, self.schema, self.idx, self.ckpt)
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if sp is not None:
            for p in progress:
                d = p["durationMs"]
                start = _epoch(p["timestamp"]) + sum(
                    d.get(k, 0) for k in ("latestOffset", "walCommit", "getBatch", "queryPlanning")
                ) / 1000.0
                tr.add_child(sp, "storage.write.append_bm25_index", start,
                             start + d.get("addBatch", 0) / 1000.0, run_id=str(q.runId))
        self.progress.setdefault(window, []).extend(progress)

    def _ingest(self, window: str, b: int) -> bool:
        """Land batch b, commit it, then read its probe back: one
        freshness sample (landing -> docs visible through top-k)."""
        self._land(b)
        t_land, c_land = time.perf_counter(), self.ctx.cpu()
        self._commit(window)
        t_commit, c_commit = time.perf_counter(), self.ctx.cpu()
        manifest_version = self._version()
        self.version_batches[manifest_version] = len(self.landed)
        self._count_files(window, manifest_version)
        version, rows = self._request(self._probe(b))
        t_seen, c_seen = time.perf_counter(), self.ctx.cpu()
        self.batch_cpu.setdefault(window, []).append(c_commit - c_land)
        self.fresh_cpu.setdefault(window, []).append(c_seen - c_land)
        self.batch_lat.setdefault(window, []).append(t_commit - t_land)
        self.fresh_lat.setdefault(window, []).append(t_seen - t_land)
        self.batch_docs[window] = self.batch_docs.get(window, 0) + len(self.batches[b])
        target = int(self.batches[b][0])
        return version == manifest_version and any(r["doc_id"] == target for r in rows)

    def _probe(self, b: int) -> str:
        """A one-doc query set whose text is batch b's first doc: its
        rarest terms occur together only there, so that doc must rank
        in the probe's top-k once the batch is committed."""
        path = os.path.join(self.ctx.work, f"probe{b:04d}")
        if not os.path.exists(path):
            gen.write_documents(f"{path}/documents.parquet", [PROBE_ID0 + 100 * b],
                                [self.texts[int(self.batches[b][0])]])
        return path

    def _version(self) -> int:
        with open(os.path.join(self.idx, "manifest.json")) as f:
            return json.load(f)["version"]

    def _count_files(self, window: str, version: int) -> None:
        n = 0
        for comp in ("postings", "terms", "doclens"):
            for _d, _s, fs in os.walk(os.path.join(self.idx, f"{comp}-{version:03d}")):
                n += sum(f.endswith(".parquet") for f in fs)
        self.files_written.setdefault(window, []).append(n)

    def warm_up(self) -> tuple[int, int]:
        """A full-block request, then one ingest cycle (batch 0) with
        its probe read. Results are checked like any other, so they
        count as attempted."""
        self._send("warm", self.qsets[0])
        fresh = self._ingest("warm", 0)
        return 2, int(not fresh)

    def op(self, window: str) -> bool:
        self.step += 1
        cycle, pos = divmod(self.step, REQUESTS_PER_BATCH + 1)
        if pos == 0:
            return self._ingest(window, len(self.landed))
        return self._send(window, self.qsets[(cycle * REQUESTS_PER_BATCH + pos) % len(self.qsets)])

    def gate(self) -> tuple[int, int]:
        """Check every request (warm-up and timed; the warm-up's is the
        full block) against the oracle of the manifest version it read:
        BM25_ORACLE (the persisted-index oracle doc_bm25_serve
        certifies) over the base half for version 1, STREAM_BM25_ORACLE
        (the streaming-append oracle, even/odd split) over the base half
        plus the batches committed so far for later versions. Returns
        (operations attempted here, failures found)."""
        from mapreduce_distributed_systems_spark.operators.retrieval import BM25_ORACLE
        from mapreduce_distributed_systems_spark.streaming.index_stream import STREAM_BM25_ORACLE

        con = duckdb.connect()
        want: dict[int, dict] = {}
        failures = 0
        for req in self.requests:
            v = req["version"]
            if v not in want:
                files = [f"{self.base}/documents.parquet"] + [
                    os.path.join(self.src, f"batch-{b:04d}.parquet")
                    for b in self.landed[: self.version_batches[v]]
                ]
                con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet("
                            + repr(files) + ")")
                by_q: dict[int, list] = {}
                for r in con.execute(BM25_ORACLE if v == 1 else STREAM_BM25_ORACLE).fetchall():
                    by_q.setdefault(r[0], []).append(r)
                want[v] = by_q
            expect = [r for q in req["ids"] for r in want[v].get(q, [])]
            failures += _norm(req["rows"]) != _norm(expect)
        con.close()
        return 0, failures  # the requests were counted when sent

    def op_latency(self, window: str) -> list[float]:
        return self.req_lat.get(window, [])

    def metrics(self) -> tuple[dict, dict]:
        req, batch, fresh = self.req_lat["e2e"], self.batch_lat["e2e"], self.fresh_lat["e2e"]
        req_cpu, batch_cpu = self.req_cpu["e2e"], self.batch_cpu["e2e"]
        docs = self.batch_docs["e2e"]
        e2e = {
            "op_cpu_s": (statistics.fmean(req_cpu), "s"),
            "docs_per_cpu_s": (docs / sum(batch_cpu), "1/s"),
        }
        named = {
            "request_p50_s": (statistics.median(req), "s"),
            "request_p90_s": (_p90(req), "s"),
            "request_cpu_s": e2e["op_cpu_s"],
            "queries_per_s": (self.req_docs["e2e"] / sum(req), "1/s"),
            "batch_p50_s": (statistics.median(batch), "s"),
            "batch_cpu_s": (statistics.fmean(batch_cpu), "s"),
            "freshness_p50_s": (statistics.median(fresh), "s"),
            "docs_per_s": (docs / sum(batch), "1/s"),
            "docs_per_cpu_s": e2e["docs_per_cpu_s"],
            "requests": (len(req), "count"),
            "batches": (len(batch), "count"),
        }
        return e2e, named

    def samples(self) -> dict:
        return {"request_s": self.req_lat, "batch_s": self.batch_lat, "freshness_s": self.fresh_lat,
                "request_cpu_s": self.req_cpu, "batch_cpu_s": self.batch_cpu,
                "freshness_cpu_s": self.fresh_cpu}

    def layer_extras(self) -> dict:
        prog = self.progress.get("trace", [])
        n = max(1, len(self.req_lat.get("trace", [])) + len(self.batch_lat.get("trace", [])))

        def dur(*keys):
            return sum(p["durationMs"].get(k, 0) for p in prog for k in keys) / 1000.0 / n

        files = self.files_written.get("trace", [])
        docs_indexed = len(range(0, SERVE_DOCS, 2)) + sum(len(self.batches[b]) for b in self.landed)
        index_bytes = sum(
            os.path.getsize(os.path.join(d, f)) for d, _s, fs in os.walk(self.idx) for f in fs
            if f.endswith(".parquet") and f"-{self._version():03d}" in d
        )
        return {
            "streaming.batches": len(prog) / n,
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.planning_s": dur("queryPlanning"),
            "streaming.wal_commit_s": dur("walCommit"),
            "streaming.discovery_s": dur("latestOffset", "getBatch"),
            "storage.write.files": sum(files) / n,
            "storage.bytes_per_doc": index_bytes / docs_indexed,
        }


def _epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


WORKLOADS = {w.name: w for w in (Curate, ServeIngest)}
