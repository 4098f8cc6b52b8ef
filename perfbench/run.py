"""Benchmark of the lucene_solr_spark engine: index build and BM25 serving.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload build|serve-batch --seed N \
        --seconds S --trace 0|1

One process drives all load as a closed loop with one client. The corpus
and queries come from perfbench/corpus.py, seeded by --seed. Every
index a workload queries is built during set-up by the engine itself.
Results are checked against perfbench/oracle.py. The last stdout line is
one JSON object {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Everything the run writes stays under .bench_work/ in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import re
import shutil
import signal
import statistics
import sys
import time
import traceback

import numpy as np

from corpus import QUERY_KINDS, STOPWORDS, Generator, bucket_df_summary, term_buckets
from oracle import Oracle, same_hits
from rss import PeakRss, descendants
from tracing import JobCounter, Tracer, plan_counts, shuffle_write_bytes, span_cost_s

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Sizing on a 4-core host: a fresh Spark session plus the first build of
# a few thousand docs takes 45-50 s, whatever the doc count, and a batch
# of 120 queries on a preloaded reader 2-3 s. A full pass of the
# benchmark (4 + 22 x 2 runs) must end within 3420 s, so the corpora are
# small.
SERVE_DOCS = 3000
SERVE_QUERIES = 480
BATCH_QUERIES = 120
BUILD_DOCS = 3000
BUILD_CHECK_QUERIES = 12
K = 10
BATCH_TIMEOUT_S = 60.0
BUILD_TIMEOUT_S = 120.0
RUN_DEADLINE_S = 170
NRT_BATCH = 400
NRT_REWRITTEN = 200

WORKLOADS = ("build", "serve-batch")

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "peak_rss_mb": "MB",
    "index_bytes_per_input_byte": "ratio",
}


def _median(v):
    return float(statistics.median(v)) if v else 0.0


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


SERVING_TABLES = ("postings", "norms", "doc_map", "term_stats", "term_stats_rev")


def _index_bytes(ix: str) -> dict[str, int]:
    out = {t: _dir_bytes(os.path.join(ix, t)) for t in SERVING_TABLES}
    out["manifest"] = os.path.getsize(os.path.join(ix, "manifest.json"))
    out["intermediate"] = sum(
        _dir_bytes(os.path.join(ix, t)) for t in ("segments", "checkpoints")
    )
    return out


def _serving_bytes(ix: str) -> int:
    return sum(v for k, v in _index_bytes(ix).items() if k != "intermediate")


class Run:
    """State of one benchmark run."""

    def __init__(self, args):
        self.args = args
        self.work = os.path.join(
            ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
        )
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "tmp")
        # keep the JVM's temp files (and its perf-data file, which
        # otherwise always goes to /tmp) inside the checkout
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"
        )
        self.tracer = Tracer(bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, tuple[float, str]] = {}
        self.e2e: dict[str, float] = {}
        self.aliases: dict[str, tuple[float, str]] = {}  # printed under their long names
        self.samples = 0
        self.inputs: dict = {}
        self.spark = None

    # ---- bookkeeping ---------------------------------------------------
    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            _log(f"FAILED: {what}")

    def put(self, name: str, value: float, unit: str) -> None:
        self.layer[name] = (float(value), unit)

    # ---- engine entry points ------------------------------------------
    def start_spark(self):
        from lucene_solr_spark import session

        session.apply_worker_malloc_env()
        cpus = len(os.sched_getaffinity(0))
        self.spark = session.get_spark(master=f"local[{cpus}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jobs = JobCounter(self.spark.sparkContext)
        return self.spark

    def stop_spark(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                with contextlib.suppress(Exception):
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
        self.spark = None
        _wait_children()

    def warm_session(self, src_path: str) -> None:
        """Start the Python workers and load Spark's parquet, Arrow,
        shuffle and writer code with a job that does not call the engine.
        What is left of a first build's extra cost is the engine's own."""
        import pyarrow as pa
        from pyspark.sql import functions as F

        def lengths(batches):
            for b in batches:
                yield pa.RecordBatch.from_pydict(
                    {"n": pa.compute.utf8_length(b.column("text")).cast(pa.int64())})

        cpus = len(os.sched_getaffinity(0))
        docs = self.spark.read.parquet(src_path).repartition(cpus)
        docs.mapInArrow(lengths, "n long") \
            .groupBy((F.col("n") % 64).alias("g")).agg(F.count("*").alias("c")) \
            .write.mode("overwrite").parquet(os.path.join(self.work, "warm"))

    def write_corpus(self, c, name: str) -> str:
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self.work, name)
        pq.write_table(pa.table({"doc_id": c.keys, "text": c.texts}), path)
        return path

    def build(self, src, out: str, phases: list | None = None,
              counts: dict | None = None) -> dict:
        """build_index with the traced-run instruments around it."""
        from lucene_solr_spark.index.builder import IndexConfig, build_index

        cfg = IndexConfig(sharding="range_int")
        if not self.args.trace:
            return build_index(self.spark, src, out, cfg, resume=False)
        err = io.StringIO()
        jc: dict = {}
        with self.tracer.span("index.build_index"), self.jobs.group(jc), \
                contextlib.redirect_stderr(err):
            m = build_index(self.spark, src, out, cfg, resume=False)
        if phases is not None:
            phases.append({
                k: float(v) for k, v in
                re.findall(r"\[build-phase\] (\w+): ([0-9.]+)s", err.getvalue())
            })
        if counts is not None:
            jc["shuffle"] = shuffle_write_bytes(
                self.spark.sparkContext, jc["stage_ids"])
            counts.setdefault("runs", []).append(jc)
        return m

    def key_to_docid(self, searcher) -> dict[int, int]:
        rows = searcher.doc_map().select("key", "doc_id").collect()
        return {int(r.key): int(r.doc_id) for r in rows}


def _wait_children(timeout: float = 20.0) -> None:
    t0 = time.time()
    while descendants(os.getpid()) and time.time() - t0 < timeout:
        time.sleep(0.2)


def to_query(kind: str, terms: tuple, must_not: tuple):
    from lucene_solr_spark.search.query import (
        BooleanAnd, BooleanNot, BooleanOr, TermQuery)

    if kind == "term":
        return TermQuery(terms[0])
    if kind in ("and2", "and3"):
        return BooleanAnd(terms)
    if kind == "or3":
        return BooleanOr(terms)
    if kind == "or_msm2":
        return BooleanOr(terms, 2)
    if kind == "not":
        return BooleanNot(terms, must_not)
    raise ValueError(kind)


# ---- per-layer extras (traced runs only) --------------------------------

def layer_analysis(run: Run, src_path: str) -> None:
    from pyspark.sql import functions as F

    from lucene_solr_spark.analysis.jvm import standard_tokens_col

    src = run.spark.read.parquet(src_path)
    rates = []
    for _ in range(3):
        t0 = time.perf_counter()
        with run.tracer.span("analysis.standard_tokens"):
            n = src.select(F.size(standard_tokens_col(F.col("text"))).alias("n")) \
                .agg(F.sum("n")).collect()[0][0]
        rates.append(n / (time.perf_counter() - t0))
    run.put("analysis.tokens_per_s", _median(rates), "1/s")


def layer_kernels(run: Run, corpus, oracle, ix: str, terms: list[str]) -> None:
    """Segment invert, posting codec and BM25 kernel, called in-process."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lucene_solr_spark.functions import bm25
    from lucene_solr_spark.index.arrow_builder import make_arrow_segment_builder
    from lucene_solr_spark.index.codec import decode_posting_list, encode_posting_lists

    n_stop = len(STOPWORDS)
    words = np.array(corpus.words, dtype=object)
    n_seg = min(1000, corpus.n_docs)
    toks = [list(words[t[t >= n_stop]]) for t in corpus.token_ids[:n_seg]]
    tbl = pa.table({
        "key": pa.array(corpus.keys[:n_seg], pa.int64()),
        "g": pa.array(np.zeros(n_seg, np.int64)),
        "toks": pa.array(toks, pa.list_(pa.string())),
    })
    fn = make_arrow_segment_builder("l", False)
    ts = []
    for _ in range(3):
        t0 = time.perf_counter()
        with run.tracer.span("index.segment_invert"):
            fn(tbl)
        ts.append(time.perf_counter() - t0)
    run.put("index.segment_invert_ms_per_kdoc", _median(ts) * 1e3 * 1000 / n_seg, "ms")

    # encode: every posting of the corpus, sorted by (term, doc)
    lengths = np.bincount(oracle.p_term, minlength=len(corpus.words))
    lengths = lengths[lengths > 0]
    ts = []
    for _ in range(3):
        t0 = time.perf_counter()
        with run.tracer.span("codec.encode"):
            encode_posting_lists(lengths, oracle.p_doc, oracle.p_tf.astype(np.int64),
                                 oracle.norm_of_doc[oracle.p_doc])
        ts.append(time.perf_counter() - t0)
    run.put("codec.encode_ns_per_posting", _median(ts) * 1e9 / len(oracle.p_doc), "ns")

    tbl = pq.read_table(os.path.join(ix, "postings"),
                        columns=["term", "df", "doc_enc", "tf_enc"],
                        filters=[("term", "in", terms)])
    rows = list(zip(tbl.column("df").to_pylist(), tbl.column("doc_enc").to_pylist(),
                    tbl.column("tf_enc").to_pylist()))
    n_post = sum(r[0] for r in rows)
    ts, decoded = [], []
    for rep in range(3):
        t0 = time.perf_counter()
        with run.tracer.span("codec.decode"):
            out = [decode_posting_list(d, t, df) for df, d, t in rows]
        ts.append(time.perf_counter() - t0)
        decoded = out
    run.put("codec.decode_ns_per_posting", _median(ts) * 1e9 / max(1, n_post), "ns")

    cache = bm25.norm_cache(bm25.avgdl(oracle.sum_ttf, oracle.max_doc))
    ts = []
    for _ in range(3):
        t0 = time.perf_counter()
        with run.tracer.span("bm25.score_term"):
            for (df, _d, _t), (docs, tfs) in zip(rows, decoded):
                bm25.score_term(tfs, oracle.norm_of_doc[docs],
                                bm25.idf(df, oracle.max_doc), cache)
        ts.append(time.perf_counter() - t0)
    run.put("bm25.score_ns_per_posting", _median(ts) * 1e9 / max(1, n_post), "ns")


def layer_search(run: Run, searcher, queries, expected) -> None:
    """Spark counters for single queries and one batch on a preloaded reader."""
    searcher.term_dfs(sorted({t for q in queries for t in q[1] + q[2]}))
    per = {k: [] for k in ("jobs", "stages", "tasks", "exchanges",
                           "broadcasts", "py_bytes")}
    for (kind, terms, nots), want in zip(queries, expected):
        jc: dict = {}
        with run.jobs.group(jc):
            with run.tracer.span("search.plan"):
                df = searcher.search(to_query(kind, terms, nots), k=K)
            with run.tracer.span("search.exec"):
                rows = df.collect()
        run.op(_same(rows, want), f"layer query {kind} {terms} {nots}")
        pc = plan_counts(df)
        per["jobs"].append(jc["jobs"])
        per["stages"].append(jc["stages"])
        per["tasks"].append(jc["tasks"])
        per["exchanges"].append(pc["exchanges"])
        per["broadcasts"].append(pc["broadcasts"])
        per["py_bytes"].append(pc["python_bytes_sent"])
    run.put("search.spark_jobs_per_query", statistics.mean(per["jobs"]), "count")
    run.put("search.spark_stages_per_query", statistics.mean(per["stages"]), "count")
    run.put("search.spark_tasks_per_query", statistics.mean(per["tasks"]), "count")
    run.put("search.exchanges_per_query", statistics.mean(per["exchanges"]), "count")
    run.put("search.broadcasts_per_query", statistics.mean(per["broadcasts"]), "count")
    run.put("search.python_bytes_sent_per_query", statistics.mean(per["py_bytes"]), "B")

    batch = {str(i): to_query(*q) for i, q in enumerate(queries)}
    t0 = time.perf_counter()
    with run.tracer.span("search.batch_plan"):
        bdf = searcher.search_many(batch, k=K)
    t1 = time.perf_counter()
    with run.tracer.span("search.batch_exec"):
        rows = bdf.collect()
    t2 = time.perf_counter()
    got: dict[str, list] = {qid: [] for qid in batch}
    for r in rows:
        got[r.qid].append(r)
    for i, want in enumerate(expected):
        run.op(_same(got[str(i)], want), f"batch query {queries[i]}")
    run.put("search.batch_plan_ms", (t1 - t0) * 1e3, "ms")
    run.put("search.batch_exec_s", t2 - t1, "s")
    run.put("search.batch_python_bytes_sent", plan_counts(bdf)["python_bytes_sent"], "B")


def layer_nrt(run: Run, gen, corpus, ix: str, probe_terms: list[str]) -> None:
    """One update -> reopen -> marker-query cycle on a copy of the index."""
    from lucene_solr_spark.index.deletes import update_documents
    from lucene_solr_spark.search.query import TermQuery
    from lucene_solr_spark.search.searcher import IndexSearcher

    nrt_ix = ix + "_nrt"
    shutil.copytree(ix, nrt_ix)
    marker = gen.marker()
    rows = np.arange(NRT_REWRITTEN)
    new = gen.rewrite(corpus, rows, marker)
    fresh = gen.docs(NRT_BATCH - NRT_REWRITTEN)
    keys = np.concatenate([new.keys, fresh.keys])
    texts = new.texts + fresh.texts
    batch = run.spark.createDataFrame(
        [(int(k), t) for k, t in zip(keys, texts)], "doc_id long, text string")
    t0 = time.perf_counter()
    with run.tracer.span("nrt.update_documents"):
        update_documents(run.spark, nrt_ix, batch, batch_id=1)
    t1 = time.perf_counter()
    with run.tracer.span("search.open"):
        s = IndexSearcher.open(run.spark, nrt_ix)
    t2 = time.perf_counter()
    with run.tracer.span("search.term_dfs"):
        s.term_dfs(probe_terms)
    t3 = time.perf_counter()
    hits = s.search_with_keys(TermQuery(marker), k=NRT_REWRITTEN + 10).collect()
    want = {int(k) for k in new.keys}
    run.op({int(r.key) for r in hits} == want and len(hits) == len(want),
           "nrt marker visibility")
    # the old version of a rewritten doc must be gone: its old text no
    # longer matches under its key (marker-free terms of the old doc)
    first = corpus.token_ids[0]
    old_term = corpus.words[int(first[first >= len(STOPWORDS)][0])]
    stale = s.search_with_keys(TermQuery(old_term), k=None).where(
        f"key = {int(corpus.keys[0])}").collect()
    run.op(all(int(r.doc_id) >= corpus.n_docs for r in stale), "nrt old version gone")
    run.put("nrt.update_ms", (t1 - t0) * 1e3, "ms")
    run.put("search.open_ms", (t2 - t1) * 1e3, "ms")
    run.put("search.term_dfs_cold_ms", (t3 - t2) * 1e3, "ms")
    with open(os.path.join(nrt_ix, "manifest.json")) as fh:
        run.put("nrt.generations", 1 + len(json.load(fh).get("delta_generations", [])), "count")
    run.put("nrt.tombstones", run.spark.read.parquet(os.path.join(nrt_ix, "tombstones")).count(), "count")


def _same(rows, want) -> bool:
    return same_hits([(int(r.doc_id), float(r.score)) for r in rows], want)


def layer_common(run: Run, gen, corpus, oracle, ix: str, src_path: str,
                 queries, expected, searcher=None) -> None:
    from lucene_solr_spark.search.searcher import IndexSearcher

    layer_analysis(run, src_path)
    terms = sorted({t for q in queries for t in q[1] + q[2]})
    layer_kernels(run, corpus, oracle, ix, terms)
    if searcher is None:
        t0 = time.perf_counter()
        searcher = IndexSearcher.open(run.spark, ix)
        with run.tracer.span("search.preload"):
            searcher.preload()
        run.put("search.preload_s", time.perf_counter() - t0, "s")
    sc = run.spark.sparkContext
    cached = sum(i.memSize() for i in sc._jsc.sc().getRDDStorageInfo())
    run.put("search.cached_mb", cached / 2**20, "MB")
    layer_search(run, searcher, queries, expected)
    layer_nrt(run, gen, corpus, ix, terms[:8])


def put_build_layers(run: Run, phases: list[dict], counts: dict, ix: str) -> None:
    for name in ("seg_build_write", "checkpoint", "doc_map", "norms", "merge_write", "term_stats"):
        run.put(f"index.{name}_s", _median([p.get(name, 0.0) for p in phases]), "s")
    runs = counts["runs"]
    run.put("index.spark_jobs", _median([r["jobs"] for r in runs]), "count")
    run.put("index.spark_tasks", _median([r["tasks"] for r in runs]), "count")
    run.put("index.shuffle_write_bytes", _median([r["shuffle"] for r in runs]), "B")
    b = _index_bytes(ix)
    for t in ("postings", "norms", "doc_map", "term_stats", "intermediate"):
        v = b[t] + (b["term_stats_rev"] if t == "term_stats" else 0)
        run.put(f"index.bytes.{t}", v, "B")


# ---- workloads -----------------------------------------------------------

def serving_queries(run: Run, gen, corpus, n):
    """n seeded queries; records the corpus and df-bucket sizes."""
    buckets = term_buckets(corpus)
    run.inputs = {"corpus": corpus.stats(), "query_term_df": bucket_df_summary(corpus, buckets)}
    return gen.queries(buckets, n)


def workload_serve_batch(run: Run) -> None:
    """search_many(batch, k=10).collect() calls on a preloaded reader,
    BATCH_QUERIES queries per call."""
    from lucene_solr_spark.search.searcher import IndexSearcher

    gen = Generator(run.args.seed)
    corpus = gen.docs(SERVE_DOCS)
    queries = _round_robin(serving_queries(run, gen, corpus, SERVE_QUERIES))
    src_path = run.write_corpus(corpus, "docs.parquet")
    ix = os.path.join(run.work, "ix")
    phases: list = []
    counts: dict = {}

    def batch_of(start: int) -> list[int]:
        return [(start + j) % len(queries) for j in range(BATCH_QUERIES)]

    def search_batch(idx: list[int]) -> list[list]:
        with run.tracer.span("search.batch_plan"):
            df = searcher.search_many(
                {str(j): to_query(*queries[qi]) for j, qi in enumerate(idx)}, k=K)
        with run.tracer.span("search.batch_exec"):
            rows = df.collect()
        hits: list[list] = [[] for _ in idx]
        for r in rows:
            hits[int(r.qid)].append(r)
        return hits

    t_setup = time.perf_counter()
    with run.tracer.span("setup"):
        spark = run.start_spark()
        src = spark.read.parquet(src_path)
        run.build(src, ix, phases, counts)
        searcher = IndexSearcher.open(spark, ix)
        t_pre = time.perf_counter()
        searcher.preload()
        preload_s = time.perf_counter() - t_pre
        # fill the reader's term-statistics cache for the whole query set
        searcher.term_dfs(sorted({t for q in queries for t in q[1] + q[2]}))
        # one batch compiles the plans; the timed batches start from the
        # other end of the list
        warm = batch_of(len(queries) - BATCH_QUERIES)
        warm_hits = search_batch(warm)
    setup_s = time.perf_counter() - t_setup

    oracle = Oracle(corpus, run.key_to_docid(searcher))
    expected = [oracle.topk(kind, terms, nots, K) for kind, terms, nots in queries]
    for qi, hits in zip(warm, warm_hits):
        run.op(_same(hits, expected[qi]), f"warm-up query {queries[qi]}")

    lat, results = [], []
    t_loop = time.perf_counter()
    t_end = t_loop + run.args.seconds
    i = 0
    while i == 0 or time.perf_counter() < t_end:
        idx = batch_of(i * BATCH_QUERIES)
        run.tracer.new_op()
        t0 = time.perf_counter()
        try:
            with run.tracer.span("op"):
                hits = search_batch(idx)
        except Exception:
            traceback.print_exc()
            hits = None
        dt = time.perf_counter() - t0
        lat.append(dt)
        results.append((idx, hits, dt))
        i += 1
    wall = time.perf_counter() - t_loop
    for idx, hits, dt in results:
        for n, qi in enumerate(idx):
            ok = hits is not None and dt <= BATCH_TIMEOUT_S and _same(hits[n], expected[qi])
            run.op(ok, f"query {queries[qi]}")

    run.e2e = {
        "setup_s": setup_s,
        "op_p50_ms": _median(lat) * 1e3,
        "index_bytes_per_input_byte": _serving_bytes(ix) / corpus.stats()["input_bytes"],
    }
    run.aliases = {"batch_p50_ms": (run.e2e["op_p50_ms"], "ms"),
                   "batch_qps": (len(lat) * BATCH_QUERIES / wall, "1/s")}
    run.samples = len(lat)
    if run.args.trace:
        put_build_layers(run, phases, counts, ix)
        run.put("search.preload_s", preload_s, "s")
        sample = _kind_sample(queries)
        layer_common(run, gen, corpus, oracle, ix, src_path, sample,
                     [expected[queries.index(q)] for q in sample], searcher)


def _round_robin(queries):
    """The queries reordered so that the kinds take turns in QUERY_KINDS
    order, cut to the same count of each kind. Each stretch of
    len(QUERY_KINDS) queries then holds one of each kind, so a run's
    timed queries have the same mix whatever the seed and however many
    fit in the run."""
    by_kind: dict[str, list] = {k: [] for k in QUERY_KINDS}
    for q in queries:
        by_kind[q[0]].append(q)
    return [q for group in zip(*by_kind.values()) for q in group]


def _kind_sample(queries):
    """The first query of each kind."""
    first: dict[str, tuple] = {}
    for q in queries:
        first.setdefault(q[0], q)
    return list(first.values())


def workload_build(run: Run) -> None:
    """Repeated fresh build_index of the seeded corpus."""
    from lucene_solr_spark.search.searcher import IndexSearcher

    gen = Generator(run.args.seed)
    corpus = gen.docs(BUILD_DOCS)
    queries = serving_queries(run, gen, corpus, BUILD_CHECK_QUERIES)
    src_path = run.write_corpus(corpus, "docs.parquet")
    phases: list = []
    counts: dict = {}

    # Set-up starts the Python workers and loads Spark's own code with a
    # job that does not call the engine. The timed build still pays for
    # the engine's first-use costs; a warm-up build in set-up would not
    # fit the run's time budget.
    t_setup = time.perf_counter()
    with run.tracer.span("setup"):
        spark = run.start_spark()
        run.warm_session(src_path)
        src = spark.read.parquet(src_path)
    setup_s = time.perf_counter() - t_setup

    times = []
    ix = None
    n = 0
    t_end = time.perf_counter() + run.args.seconds
    # start another build only if one as long as the last still ends in
    # the measured time; otherwise a host where a build takes a little
    # less than --seconds would add a second, warmer build to some runs
    # and not to others
    while n == 0 or time.perf_counter() + times[-1] <= t_end:
        n += 1
        prev, ix = ix, os.path.join(run.work, f"ix{n}")
        run.tracer.new_op()
        t0 = time.perf_counter()
        try:
            with run.tracer.span("op"):
                m = run.build(src, ix, phases, counts)
            ok = m["max_doc"] == corpus.n_docs
        except Exception:
            traceback.print_exc()
            ok = False
        dt = time.perf_counter() - t0
        times.append(dt)
        run.op(ok and dt <= BUILD_TIMEOUT_S, f"build {n}")
        if prev is not None:
            shutil.rmtree(prev, ignore_errors=True)

    # untimed check of the last build: a query sample against the oracle
    searcher = IndexSearcher.open(spark, ix)
    oracle = Oracle(corpus, run.key_to_docid(searcher))
    expected = [oracle.topk(kind, terms, nots, K) for kind, terms, nots in queries]
    rows = searcher.search_many({str(i): to_query(*q) for i, q in enumerate(queries)}, k=K).collect()
    got: dict[str, list] = {str(i): [] for i in range(len(queries))}
    for r in rows:
        got[r.qid].append(r)
    for i, want in enumerate(expected):
        run.op(_same(got[str(i)], want), f"build check query {queries[i]}")

    run.e2e = {
        "setup_s": setup_s,
        "op_p50_ms": _median(times) * 1e3,
        "index_bytes_per_input_byte": _serving_bytes(ix) / corpus.stats()["input_bytes"],
    }
    run.aliases = {"build_docs_per_s": (corpus.n_docs * len(times) / sum(times), "1/s")}
    run.samples = len(times)
    if run.args.trace:
        put_build_layers(run, phases, counts, ix)
        layer_common(run, gen, corpus, oracle, ix, src_path, queries, expected)


# ---- entry -----------------------------------------------------------------

def host_probe_ms() -> float:
    """Median time of a fixed single-threaded Python loop. It does not
    touch the engine; it is a yardstick for the host's speed during the
    run, so that host drift can be told apart from a program change."""
    ts = []
    for _ in range(7):
        t0 = time.perf_counter()
        x = 0
        for i in range(500_000):
            x += i * i
        ts.append(time.perf_counter() - t0)
    return _median(ts) * 1e3


def _deadline(_signum, _frame):
    raise TimeoutError(f"run exceeded {RUN_DEADLINE_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "lucene_solr_spark", "__init__.py")):
        _log("perfbench: the lucene_solr_spark package is not in this checkout")
        return 2
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(RUN_DEADLINE_S)

    run = Run(args)
    probe_ms = host_probe_ms()
    if args.trace:
        os.environ["LSS_TIMING"] = "1"
    t_run = time.perf_counter()
    try:
        with PeakRss() as rss:
            {"build": workload_build, "serve-batch": workload_serve_batch}[
                args.workload](run)
            run.stop_spark()
    finally:
        signal.alarm(0)
        run.stop_spark()
    run_s = time.perf_counter() - t_run
    trace_dir = os.path.join(ROOT, ".bench_work", "traces")
    os.makedirs(trace_dir, exist_ok=True)
    if args.trace:
        run.tracer.dump(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"))
    shutil.rmtree(run.work, ignore_errors=True)

    run.e2e["peak_rss_mb"] = rss.peak / 2**20
    print(f"workload {args.workload} seed {args.seed}: {run.samples} timed "
          f"operations, run {run_s:.1f} s, host probe {probe_ms:.2f} ms")
    print(f"inputs {json.dumps(run.inputs)}")
    if args.trace:
        st = run.tracer.self_times()
        for name in ("op", "setup"):
            run.put(f"bench.self_ms.{name}", _median(st[name]) * 1e3, "ms")
        run.put("search.plan_ms", _median(st["search.plan"]) * 1e3, "ms")
        run.put("search.exec_ms", _median(st["search.exec"]) * 1e3, "ms")
        run.put("trace.op_p50_ms", _median(run.tracer.durations("op")) * 1e3, "ms")
        run.put("trace.span_cost_us", span_cost_s() * 1e6, "us")
        run.put("trace.spans", len(run.tracer.spans), "count")
        run.put("host.probe_ms", probe_ms, "ms")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in run.layer.items()}
    else:
        metrics = {k: {"value": run.e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        for alias, (value, unit) in run.aliases.items():
            print(f"{alias} {value:.4f} {unit}")
        print(f"ops_failed_frac {run.failed / max(1, run.attempted):.6f} ratio")
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
