#!/usr/bin/env python3
"""splade_spark benchmark of record.

    python3 perfbench/run.py --workload web_zipf --seed 1 --seconds 12 --trace 0

Run from the repository root. One process starts ``local[nproc]`` Spark,
generates the seed's inputs with it (perfbench/gen.py), then measures one
pipeline: a fresh ``build_segmented_index``, three ``LocalSearcher.load``
runs, then seeded ``topk_wand_auto`` batches alternating with single queries
through ``LocalSearcher`` for at least ``--seconds``. The build is measured
once. Every result is checked. The last stdout line is the JSON result;
progress goes to stderr.

``--trace 1`` reports per-layer metrics instead (perfbench/README.md lists
them). It puts a span around each public call, drives the build layer by
layer and checks its blocks are identical to the untraced build's, runs
batch 0 through every distributed top-k path and ``InteractiveSession``,
appends micro-batches through ``stream_build_segments`` and compacts with
``compact_index``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from checks import (  # noqa: E402
    Ledger, blocks_digest, check_index, check_paths, compare_topk, hits_by_query,
)
from gen import BATCH_SIZE, INGEST_BATCHES, Scale, make_inputs  # noqa: E402
from probe import Tracer  # noqa: E402

WORKLOADS = {
    # Salted vocabulary (~13k terms): per-distinct-term build work, many
    # short posting lists and small blocks.
    "web_zipf": dict(salted=True, scale=Scale(150, 100, 4)),
    # Frozen 248-term vocabulary: long posting lists, decode and scoring.
    "frozen_long": dict(salted=False, scale=Scale(1000, 200, 8)),
}
TINY = Scale(24, 8, 8)  # for perfbench/test_checks.py
TOP_K = 5
SETUP_REPEATS = 3  # LocalSearcher.load runs, the median goes into setup_s
LOCAL_CHUNK_S = 1.0  # LocalSearcher queries after each batch
MIN_SAMPLES = {"batch": 5, "local": 1000}
SESSION_QUERIES = 20  # traced run only: about 0.3-0.6 s each

END_TO_END = {
    "setup_s": "s",
    "build_pages_per_s": "pages/s",
    "index_bytes_per_posting": "B/posting",
    "batch_qps": "queries/s",
    "local_p50_ms": "ms",
    "local_p99_ms": "ms",
}

SPARK_LAYERS = (
    "chunker", "postings", "stats", "segments", "encode",
    "wand", "wand_batch", "naive", "incremental", "compact",
)
LAYER_FIELDS = {
    "wall_s": "s", "task_s": "s", "cpu_s": "s", "slot_idle_share": "ratio",
    "shuffle_mb": "MB", "spill_mb": "MB", "jobs": "count", "tasks_failed": "count",
}
LAYER_EXTRAS = {
    "codec.docs_bytes_per_posting": "B/posting",
    "codec.impacts_bytes_per_posting": "B/posting",
    "stats.vocab": "count",
    "wand.blocks_joined": "count",
    "session.p50_ms": "ms",
    "session.p90_ms": "ms",
    "session.plan_ms": "ms",
    "session.exec_ms": "ms",
    "local.encode_us": "us",
    "local.score_us": "us",
    "local.load_s": "s",
    "incremental.pages_per_s": "pages/s",
    "compact.postings_per_s": "postings/s",
    "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
    "op_failure_ratio": "ratio",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{f}": u for layer in SPARK_LAYERS for f, u in LAYER_FIELDS.items()}
    units.update(LAYER_EXTRAS)
    return units


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def start_spark(workdir: str, nproc: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    return (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * nproc))
        .config("spark.local.dir", os.path.join(workdir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus its JVM."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (own_kb + jvm_kb) / 1024


class Bench:
    """One run: inputs, Spark session, tracer, ledger and the metrics so far."""

    def __init__(self, spark, workdir, inputs, scale, tracer, ledger):
        self.spark = spark
        self.workdir = workdir
        self.inputs = inputs
        self.scale = scale
        self.t = tracer
        self.ledger = ledger
        self.metrics: dict[str, float] = {}

    def qdf(self, queries):
        return self.spark.createDataFrame(queries, "query_id long, text string")

    def batches(self):
        qs, n = self.inputs.queries, BATCH_SIZE
        return [qs[i : i + n] for i in range(0, len(qs) - n + 1, n)]

    # -- build -------------------------------------------------------------

    def build(self, pages, index_dir: str) -> float:
        from splade_spark.build.segments import build_segmented_index

        t0 = time.perf_counter()
        with self.t.span("build_segmented_index"):
            build_segmented_index(pages, index_dir, n_segments=self.scale.n_segments)
        return time.perf_counter() - t0

    def build_by_layer(self, pages, index_dir: str) -> float:
        """``build_segmented_index``'s fresh-build path, one span per layer."""
        from pyspark.sql import Observation, functions as F

        from splade_spark.build.chunker import attach_tokens, chunk_pages, docs_from_chunks
        from splade_spark.build.postings import (
            stem_map_from_terms, surface_term_counts, term_freqs,
        )
        from splade_spark.build.segments import (
            SegmentedIndex, _commit_manifest, _dir_bytes, pack_segment_from_tf,
            with_segment_id,
        )
        from splade_spark.build.stats import build_dictionary
        from splade_spark.config import DEFAULT
        from splade_spark.sources.iceberg import write_engine_table

        spark, cfg, n_seg = self.spark, DEFAULT, self.scale.n_segments
        par = spark.sparkContext.defaultParallelism * 2
        docs_path = os.path.join(index_dir, "docs")
        t0 = time.perf_counter()
        with self.t.span("chunk_pages+docs_from_chunks", "chunker"):
            obs = Observation()
            docs = docs_from_chunks(chunk_pages(pages.repartition(par), cfg), cfg)
            docs = docs.observe(obs, F.count(F.lit(1)).alias("n_docs"))
            docs.drop("tokens", "doclen").write.parquet(docs_path)
            n_docs = int(obs.get["n_docs"])
        docs = spark.read.parquet(docs_path)
        if docs.rdd.getNumPartitions() < par:
            docs = docs.repartition(par)
        docs = attach_tokens(docs)
        with self.t.span("surface_term_counts", "postings"):
            sobs = Observation()
            surface = surface_term_counts(docs).observe(
                sobs, F.coalesce(F.sum(F.col("tf").cast("long")), F.lit(0)).alias("sum_tf")
            ).cache()
            surface.count()
            avgdl = float(int(sobs.get["sum_tf"])) / n_docs
        with self.t.span("term_freqs+build_dictionary", "stats"):
            dictionary = build_dictionary(term_freqs(docs, cfg, surface=surface), n_docs, cfg)
            write_engine_table(
                spark.createDataFrame([(n_docs, avgdl)], "n_docs long, avgdl double").coalesce(1),
                "corpus_stats",
                index_dir,
            )
            write_engine_table(dictionary, "dictionary", index_dir)
        index = SegmentedIndex(index_dir)
        dictionary = index.dictionary(spark).cache()
        with self.t.span("stem_map_from_terms+pack_segment_from_tf", "segments"):
            smap = stem_map_from_terms(surface.select("term").distinct())
            rows = surface.join(F.broadcast(smap), "term").select(
                F.col("term_stemmed").alias("term"), "doc_id", "tf", "doclen"
            )
            long = with_segment_id(
                rows.join(F.broadcast(dictionary.select("term", "term_id")), "term").select(
                    "term_id", "doc_id", "tf", "doclen"
                ),
                n_seg,
            )
            blocks_root = os.path.join(index_dir, "blocks")
            pack_segment_from_tf(long, avgdl, cfg).write.partitionBy("segment_id").parquet(blocks_root)
            n_post = dict(
                spark.read.parquet(blocks_root).groupBy("segment_id").agg(F.sum("n_docs")).collect()
            )
            n_docs_seg = dict(
                docs.groupBy(F.pmod(F.xxhash64("doc_id"), F.lit(n_seg)).cast("int")).count().collect()
            )
            surface.unpersist()
            dictionary.unpersist()
            for seg in range(n_seg):
                _commit_manifest(index, {
                    "segment_id": seg,
                    "status": "committed",
                    "n_docs": n_docs_seg.get(seg, 0),
                    "n_postings": n_post.get(seg, 0),
                    "bytes": _dir_bytes(os.path.join(blocks_root, f"segment_id={seg}")),
                    "lineage": json.dumps({"segment_of": n_seg}),
                })
        return time.perf_counter() - t0

    def trace_build(self, pages, index_dir: str, counts: dict) -> None:
        """Layer-by-layer build; its blocks must equal the untraced build's."""
        m = self.metrics
        m["codec.docs_bytes_per_posting"] = counts["docs_bytes"] / counts["n_postings"]
        m["codec.impacts_bytes_per_posting"] = counts["impacts_bytes"] / counts["n_postings"]
        traced_dir = os.path.join(self.workdir, "index_traced")
        traced_s = self.build_by_layer(pages, traced_dir)
        m["stats.vocab"] = self.spark.read.parquet(os.path.join(traced_dir, "dictionary")).count()
        self.ledger.record(
            blocks_digest(traced_dir) == blocks_digest(index_dir),
            "traced build blocks differ from the untraced build",
        )
        check_index(self.ledger, traced_dir, "traced build")
        log(f"traced build {traced_s:.2f}s")

    # -- queries -----------------------------------------------------------

    def auto_batch(self, index_dir: str, batch) -> dict[int, list]:
        from splade_spark.build.segments import SegmentedIndex
        from splade_spark.query.wand import topk_wand_auto

        idx = SegmentedIndex(index_dir)
        n_seg = len(idx.committed_segments())
        with self.t.span("topk_wand_auto"):
            rows = topk_wand_auto(
                self.qdf(batch), idx.blocks(self.spark), idx.dictionary(self.spark),
                k=TOP_K, n_queries=len(batch), n_segments=n_seg,
            ).collect()
        return hits_by_query(rows)

    def query_loop(self, index_dir: str, searcher, budget: float) -> tuple[list[int], dict[int, list]]:
        """``topk_wand_auto`` batches alternating with ``LocalSearcher`` queries.

        The box's speed swings by 10-20 % from one second to the next, so
        both loops sample the same ~15 s instead of one short window each.
        """
        results: dict[int, list] = {}
        sent: list[int] = []
        times, lat = [], []
        batches = self.batches()
        while len(times) < MIN_SAMPLES["batch"] or sum(times) + sum(lat) < budget:
            batch = batches[len(times) % len(batches)]
            sent.extend(q for q, _ in batch)
            t0 = time.perf_counter()
            results.update(self.auto_batch(index_dir, batch))
            times.append(time.perf_counter() - t0)
            self.local_queries(searcher, lat, LOCAL_CHUNK_S)
        self.metrics["batch_qps"] = statistics.median(len(batches[0]) / t for t in times)
        log(f"batch: {len(times)} batches of {len(batches[0])} queries: {[round(t, 2) for t in times]}")
        self.local_metrics(searcher, lat)
        return sent, results

    def cross_paths(self, index_dir: str, batch) -> dict[str, tuple[list[int], dict[int, list]]]:
        """Batch 0 through topk_wand, topk_wand_batch and topk_naive."""
        from splade_spark.build.segments import SegmentedIndex, unpack_blocks
        from splade_spark.query.encode import encode_queries
        from splade_spark.query.naive import topk_naive
        from splade_spark.query.wand import topk_wand, topk_wand_batch

        idx = SegmentedIndex(index_dir)
        blocks, dic, qdf = idx.blocks(self.spark), idx.dictionary(self.spark), self.qdf(batch)
        out = {}
        if self.t.enabled:
            import pyarrow.dataset as ds

            with self.t.span("encode_queries", "encode"):
                terms = {r["term_id"] for r in encode_queries(qdf, dic).collect()}
            block_terms = ds.dataset(
                os.path.join(index_dir, "blocks"), format="parquet", partitioning="hive"
            ).to_table(columns=["term_id"])["term_id"].to_pylist()
            self.metrics["wand.blocks_joined"] = sum(t in terms for t in block_terms)
        for name, layer, fn, data in (
            ("topk_wand", "wand", topk_wand, blocks),
            ("topk_wand_batch", "wand_batch", topk_wand_batch, blocks),
            ("topk_naive", "naive", topk_naive, unpack_blocks(blocks)),
        ):
            with self.t.span(name, layer):
                out[name] = ([q for q, _ in batch], hits_by_query(fn(qdf, data, dic, k=TOP_K).collect()))
        return out

    def open_session(self, index_dir: str):
        from splade_spark.build.segments import SegmentedIndex, unpack_blocks
        from splade_spark.query.session import InteractiveSession

        idx = SegmentedIndex(index_dir)
        with self.t.span("InteractiveSession", "session"):
            return InteractiveSession(
                unpack_blocks(idx.blocks(self.spark)), idx.dictionary(self.spark), prepare=True
            )

    def local_queries(self, searcher, lat: list, seconds: float, enc: list | None = None) -> None:
        """``LocalSearcher.search`` down the query stream for ``seconds``."""
        qs = self.inputs.queries
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end:
            _, text = qs[len(lat) % len(qs)]
            t0 = time.perf_counter()
            searcher.search(text, TOP_K)
            lat.append(time.perf_counter() - t0)
            if enc is not None:
                t0 = time.perf_counter()
                searcher.encode(text)
                enc.append(time.perf_counter() - t0)

    def local_metrics(self, searcher, lat: list, enc: list | None = None) -> None:
        while len(lat) < MIN_SAMPLES["local"]:
            self.local_queries(searcher, lat, 0.1, enc)
        self.metrics["local_p50_ms"] = statistics.median(lat) * 1e3
        self.metrics["local_p99_ms"] = pct(lat, 0.99) * 1e3
        if enc:
            self.metrics["local.encode_us"] = statistics.median(enc) * 1e6
            self.metrics["local.score_us"] = (statistics.median(lat) - statistics.median(enc)) * 1e6
        log(f"local: {len(lat)} queries")

    def session_loop(self, session) -> tuple[list[int], dict[int, list]]:
        lat, plan, exe = [], [], []
        got: dict[int, list] = {}
        qs = self.inputs.queries
        session.search(qs[-1][1], TOP_K)  # first plan of a fresh session
        while len(lat) < SESSION_QUERIES:
            qid, text = qs[len(lat) % len(qs)]
            t0 = time.perf_counter()
            df = session.plan(text, TOP_K)
            t1 = time.perf_counter()
            rows = df.collect() if df is not None else []
            t2 = time.perf_counter()
            lat.append(t2 - t0)
            plan.append(t1 - t0)
            exe.append(t2 - t1)
            got[qid] = [(r["doc_id"], r["score"]) for r in rows]
        self.metrics["session.p50_ms"] = statistics.median(lat) * 1e3
        self.metrics["session.p90_ms"] = pct(lat, 0.90) * 1e3
        self.metrics["session.plan_ms"] = statistics.median(plan) * 1e3
        self.metrics["session.exec_ms"] = statistics.median(exe) * 1e3
        log(f"session: {len(lat)} queries")
        return list(got), got

    # -- writes beside reads (traced run) ----------------------------------

    def ingest_and_compact(self, index_dir: str) -> None:
        from compact_index import compact_index  # scripts/ is on sys.path
        from splade_spark.query.local import LocalSearcher
        from splade_spark.streaming.incremental import stream_build_segments

        batch = self.batches()[0]
        stream = self.spark.readStream.schema(
            self.spark.read.parquet(self.inputs.slice_files[0]).schema
        ).option("maxFilesPerTrigger", 1).parquet(os.path.dirname(self.inputs.slice_files[0]))
        t0 = time.perf_counter()
        with self.t.span("stream_build_segments", "incremental") as span:
            query = stream_build_segments(
                stream, index_dir, checkpoint_dir=os.path.join(self.workdir, "checkpoint")
            )
            query.awaitTermination()
            if span is not None:
                span.groups.append(str(query.runId))
        self.metrics["incremental.pages_per_s"] = self.inputs.n_ingest_pages / (time.perf_counter() - t0)
        counts = check_index(self.ledger, index_dir, "after ingest")
        self.ledger.record(
            counts["segments"] == self.scale.n_segments + INGEST_BATCHES,
            f"after ingest: {counts['segments']} segments committed",
        )
        searcher = LocalSearcher.load(self.spark, index_dir)
        want = {q: searcher.search(t, TOP_K) for q, t in batch}
        compare_topk(self.ledger, "topk_wand_auto after ingest", self.auto_batch(index_dir, batch), want)
        t0 = time.perf_counter()
        with self.t.span("compact_index", "compact"):
            compact_index(self.spark, index_dir, self.scale.n_segments)
        self.metrics["compact.postings_per_s"] = counts["n_postings"] / (time.perf_counter() - t0)
        after_counts = check_index(self.ledger, index_dir, "after compaction")
        self.ledger.record(
            after_counts["n_postings"] == counts["n_postings"],
            "compaction changed the posting count",
        )
        compare_topk(self.ledger, "topk_wand_auto after compact_index",
                     self.auto_batch(index_dir, batch), want)


def run(args, workdir: str) -> dict:
    from splade_spark.query.local import LocalSearcher

    nproc = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload]
    scale = TINY if args.scale == "tiny" else wl["scale"]
    n_queries = 1024  # the local loop sees each query about once
    setup = {}

    t0 = time.perf_counter()
    spark = start_spark(workdir, nproc)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        inputs = make_inputs(spark, workdir, args.seed, scale, wl["salted"], n_queries)
        setup["session_start+staging"] = time.perf_counter() - t0
        pages = spark.read.parquet(inputs.pages_dir)
        tracer = Tracer(spark, f"{args.workload}-{args.seed}", enabled=bool(args.trace))
        ledger = Ledger()
        b = Bench(spark, workdir, inputs, scale, tracer, ledger)

        index_dir = os.path.join(workdir, "index")
        build_s = b.build(pages, index_dir)
        b.metrics["build_pages_per_s"] = inputs.n_pages / build_s
        counts = check_index(ledger, index_dir, "fresh build")
        b.metrics["index_bytes_per_posting"] = counts["bytes"] / counts["n_postings"]
        log(f"build: {inputs.n_pages} pages in {build_s:.2f}s, {counts}")
        loads = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            with tracer.span("LocalSearcher.load", "local"):
                searcher = LocalSearcher.load(spark, index_dir)
            loads.append(time.perf_counter() - t0)
        setup["LocalSearcher.load"] = statistics.median(loads)
        b.metrics["setup_s"] = sum(setup.values())
        log(f"setup: {setup}")

        if args.trace:
            lat, enc = [], []
            b.local_queries(searcher, lat, LOCAL_CHUNK_S * MIN_SAMPLES["batch"], enc)
            b.local_metrics(searcher, lat, enc)
            b.trace_build(pages, index_dir, counts)
            other_paths = b.cross_paths(index_dir, b.batches()[0])
            session = b.open_session(index_dir)
            try:
                other_paths["InteractiveSession"] = b.session_loop(session)
            finally:
                session.close()  # restores the confs the session tuned
        else:
            other_paths = {"topk_wand_auto": b.query_loop(index_dir, searcher, args.seconds)}

        texts = dict(inputs.queries)
        check_paths(ledger, other_paths, lambda q: searcher.search(texts[q], TOP_K))
        if args.trace:
            b.metrics["local.load_s"] = statistics.median(loads)
            b.ingest_and_compact(index_dir)
            b.metrics["peak_rss_mb"] = peak_rss_mb(spark)
            b.metrics["trace.overhead_s"] = tracer.overhead_s
            b.metrics["trace.overhead_share"] = tracer.overhead_s / tracer.traced_s()
            tracer.dump(os.path.join(os.path.dirname(workdir), f"spans-{args.workload}-{args.seed}.json"))
            b.metrics.update(tracer.layer_metrics(nproc))
        b.metrics["op_failure_ratio"] = ledger.failed / max(ledger.attempted, 1)
        return {"metrics": b.metrics, "attempted": ledger.attempted, "failed": ledger.failed}
    finally:
        stop_spark(spark)


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM this process launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "splade_spark", "__init__.py")):
        log(f"no splade_spark package under {ROOT}: run from a checkout of the repository")
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    base = os.path.join(ROOT, ".perfbench")
    workdir = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)  # left by an earlier process with this pid
    os.makedirs(workdir)
    os.environ["TMPDIR"] = workdir

    def _timeout(signum, frame):
        raise TimeoutError("run exceeded 170 s")

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(170)
    try:
        res = run(args, workdir)
    finally:
        signal.alarm(0)
        shutil.rmtree(workdir, ignore_errors=True)

    wanted = set(END_TO_END) if not args.trace else set(per_layer_units())
    units = {**END_TO_END, **per_layer_units()}
    missing = wanted - set(res["metrics"])
    if missing:
        log(f"metrics not measured: {sorted(missing)}")
        return 1
    out = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": res["metrics"][k], "unit": units[k]} for k in sorted(wanted)},
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
