"""The two workloads.  One client, closed loop: the next call starts only
when the previous one has returned.

Both workloads read, so both report the same end-to-end metrics:

* ``interactive`` serves single queries from a prebuilt, never-written
  index of the fixture corpus: a hot head of repeated queries and a tail
  of queries seen once.
* ``ingest`` folds a micro-batch of unseen pages into a copy of a small
  prebuilt index (its set-up), then reads, the first read fresh.  Its
  reads show what the write path costs readers.  A traced run then also
  builds the index afresh, compacts it, reads it through the WAND engine
  and runs the ENTRY_OPS operators of ``__spark_entry__.queries()``, after
  the timed phase.

Each workload also returns its own figures (tail latency, build and
ingest rates, ...), printed on the diagnostics line with their units.
"""

from __future__ import annotations

import gc
import math
import shutil
import sys
import time
import traceback
from pathlib import Path

import cache
import inputs
import stats
from tracing import (
    CallTimer,
    Py4jCounter,
    SparkStatus,
    Tracer,
    job_metrics,
    jobs_by_op,
    peak_rss_mb,
    retained_mb,
)

K = 10
# reads a run makes at least, whatever --seconds says: the tail figure
# needs more than stats.TAIL_BEYOND of them
MIN_READS = 20

# ingest plan: set-up copies the prebuilt base index (cache.BASE_DOCS
# pages), reads it once and commits one micro-batch of unseen pages; the
# timed phase reads the hottest head queries, the same in every run (the
# first read is the fresh one); traced runs then build the base index
# afresh, compact, read through WAND and run ENTRY_OPS.  The seed picks
# the pages.  Sized so that a run of each workload fits the benchmark's
# time budget: on 4 cores a micro-batch costs ~12 s, a build ~25 s and
# compacting ~20 s whatever their size.  The write sits in set-up, not in
# the timed phase, because on a shared 4-core host its time swings ~25%
# from run to run.
BATCH_DOCS = 150
READS_AFTER_COMMIT = 5
WAND_READS = 1
TOKENIZE_SAMPLE = 200

# a query sequence longer than any run consumes
SEQUENCE = 1000


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM, and with it every Python
    worker, has exited (the JVM exits when its stdin closes)."""
    proc = spark.sparkContext._gateway.proc
    gc.collect()  # release the JVM objects of dead wrappers while it is up
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=120)


def same_topk(got, want) -> bool:
    """Rank-identical top-k: the same doc ids in the same order, and
    scores equal to f64 rounding (the tolerance tests/ uses)."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return False
    return all(
        math.isclose(g, w, rel_tol=1e-12, abs_tol=1e-12)
        for (_, g), (_, w) in zip(got, want)
    )


class Client:
    """The load generator's single client, and everything it measures."""

    def __init__(self, traced: bool, work: Path):
        from probe_spark import elastic
        from probe_spark.session import get_spark

        self.traced = traced
        self.work = work
        self.tracer = Tracer(traced)
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.py4j = Py4jCounter(self.spark) if traced else None
        self.status = SparkStatus(self.spark) if traced else None
        # the engine's own parse of each query, timed inside the read
        self.parse = (CallTimer(elastic, "create_query_plan", self.tracer)
                      if traced else None)
        self.reads: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}
        # entry_queries operator -> (op id, seconds) of its reported pass
        self.entry_ops: dict[str, tuple[int, float]] = {}
        self.last_op = 0
        self._ops = 0

    def op_id(self) -> int:
        self._ops += 1
        self.last_op = self._ops
        return self._ops

    def call(self, name: str, fn, *args, **kwargs):
        """One non-read operation (a build, a micro-batch, a compaction):
        timed, traced, and counted as failed if it raises."""
        op = self.op_id()
        self.attempted += 1
        if self.status:
            self.status.tag(op)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, op):
                out = fn(*args, **kwargs)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            out = None
        finally:
            if self.status:
                self.status.tag(None)
        return out, time.perf_counter() - t0

    def read(self, engine, layer: str, kind: str, query: str) -> dict:
        """One query through ``engine.search_local``."""
        op = self.op_id()
        rec = {"op": op, "kind": kind, "query": query, "layer": layer,
               "hits": None}
        self.attempted += 1
        try:
            if self.traced:
                with self.tracer.span("perfbench.read", op):
                    self.status.tag(op)
                    calls, parse_s = self.py4j.calls, self.parse.seconds
                    self.parse.on = True
                    try:
                        with self.tracer.span(f"{layer}.search_local"):
                            t0 = time.time()
                            rec["hits"] = engine.search_local(query, k=K)
                            t1 = time.time()
                    finally:
                        self.parse.on = False
                        self.status.tag(None)
                    rec["py4j"] = self.py4j.calls - calls
                    rec["parse_ms"] = (self.parse.seconds - parse_s) * 1000
            else:
                t0 = time.time()
                rec["hits"] = engine.search_local(query, k=K)
                t1 = time.time()
            rec["start"], rec["end"] = t0, t1
            rec["ms"] = (t1 - t0) * 1000
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            rec["error"] = True
        self.reads.append(rec)
        return rec

    def close(self) -> None:
        """Drop the JVM handles this client holds, then stop Spark."""
        self.status = None
        stop_spark(self.spark)

    def memory(self) -> dict:
        """Peak and retained memory, measured at the end of the timed
        phase (the retained figure forces a full collection)."""
        return {"peak_rss_mb": peak_rss_mb(self.jvm_pid),
                "retained_mb": retained_mb(self.spark)}

    def check(self, rec: dict, want) -> None:
        if rec.get("error"):
            return  # already counted
        if not same_topk(rec["hits"], want):
            print(f"WRONG top-{K} for {rec['query']!r} ({rec['layer']}): "
                  f"got {rec['hits']}, oracle {want}", file=sys.stderr)
            self.failed += 1

    # -- results -------------------------------------------------------

    def read_ms(self, layer: str = "engine") -> list[float]:
        return [r["ms"] for r in self.reads
                if "ms" in r and r["layer"] == layer]

    def end_to_end(self, setup_s: float, phase_s: float, memory: dict) -> dict:
        """BENCHMARK.json's end-to-end metrics -> (value, unit)."""
        values = {
            "setup_s": setup_s,
            "queries_per_s": len(self.read_ms()) / phase_s,
            "retained_mb": memory["retained_mb"],
        }
        return {k: (values[k], unit) for k, unit in END_TO_END.items()}

    def per_layer(self) -> dict:
        """Layer figures of a traced run, from spans, the py4j counter and
        the status store.  Read figures are medians over the SearchEngine
        reads; a layer the workload never calls reads 0."""
        jobs, stages = self.status.snapshot()
        by_op = jobs_by_op(jobs)
        rows = []
        inside_ms = all_ms = 0.0
        for r in self.reads:
            if "ms" not in r or r["layer"] != "engine":
                continue
            m = job_metrics(by_op.get(r["op"], []), stages,
                            window=(r["start"], r["end"]))
            # driver time is what the read's wall time leaves once the
            # engine's parse and its jobs (clipped to the read) are taken
            # out; the split holds only if the read's jobs run inside it
            m["driver_ms"] = r["ms"] - r["parse_ms"] - m["exec_ms"]
            inside_ms += m["exec_ms"]
            all_ms += job_metrics(by_op.get(r["op"], []), stages)["exec_ms"]
            rows.append({**m, "parse_ms": r["parse_ms"], "py4j": r["py4j"]})
        self.jobs_outside_reads = 1.0 - inside_ms / all_ms if all_ms else 0.0

        def med(key):
            return stats.median([row[key] for row in rows])

        def wall(kind):
            v = [r["ms"] for r in self.reads if "ms" in r
                 and r["layer"] == "engine" and r["kind"] == kind]
            return stats.median(v) if v else 0.0

        out = {
            "elastic.parse_ms": med("parse_ms"),
            "engine.py4j_calls": med("py4j"),
            "engine.driver_ms": med("driver_ms"),
            "spark.jobs": med("jobs"),
            "spark.stages": med("stages"),
            "spark.tasks": med("tasks"),
            "spark.exec_ms": med("exec_ms"),
            "spark.executor_run_ms": med("executor_run_ms"),
            "spark.executor_cpu_ms": med("executor_cpu_ms"),
            "spark.shuffle_write_bytes": med("shuffle_write_bytes"),
            "spark.input_bytes": med("input_bytes"),
            "engine.head_query_ms": wall("head"),
            "engine.tail_query_ms": wall("tail"),
            "trace.query_p50_ms": stats.median(self.read_ms()),
            "spark.failed_tasks": float(
                sum(s["numFailedTasks"] for s in stages)),
            "spark.spill_bytes": float(
                sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                    for s in stages)),
        }
        for name, (op, seconds) in self.entry_ops.items():
            m = job_metrics(by_op.get(op, []), stages)
            out[f"entry_queries.{name}_s"] = seconds
            for key in ENTRY_OP_COUNTS:
                out[f"entry_queries.{name}.{key}"] = float(m[key])
        selfs = self.tracer.self_times()
        for layer in LAYERS:
            out[f"{layer}.self_s"] = sum(
                v for k, v in selfs.items() if k.startswith(layer + "."))
        self.tracer.write(self.work / "spans.json")
        return {name: (out.get(name, self.layer.get(name, 0.0)), unit)
                for name, (unit, _) in PER_LAYER.items()}


# end-to-end metric -> unit, in BENCHMARK.json's order.  The median read
# latency is printed, not gated: over ten seeds it spread about twice as
# much as the read rate of the same runs (one order statistic of a lumpy
# mix against its mean).  Peak RSS is printed, not gated: with the JVM's
# heap growing on demand it ranged 2.3-4.0 GB over runs of one workload.
END_TO_END = {
    "setup_s": "s",
    "queries_per_s": "1/s",
    "retained_mb": "MB",
}

LAYERS = ("session", "elastic", "engine", "indexer", "textkit",
          "incremental", "compaction", "wand", "entry_queries", "perfbench")

# __spark_entry__.queries() operators a traced ingest run also times, one
# per family (BM25, dedup, sim, text, pipeline, graph, events, source),
# and the Spark counts reported for each
ENTRY_OPS = ("r1_bm25_topk", "dedup_minhash", "sim_cosine_topk",
             "text_repetition", "pipeline_decontaminate_fuzzy",
             "graph_pagerank", "events_funnel", "source_warc_roundtrip")
ENTRY_OP_COUNTS = {"jobs": "count", "tasks": "count",
                   "shuffle_write_bytes": "B"}
# rows of the generated tables, as in the sf0.01 tables the operators'
# correctness gate runs at
ENTRY_ROWS = {"documents": 500, "embeddings": 500, "events": 10_000}

# per-layer metric -> (unit, the end-to-end metric it should move, on
# which workload), in BENCHMARK.json's order.  Read figures are per
# SearchEngine read.
PER_LAYER = {
    "elastic.parse_ms": ("ms", "query_p50_ms, interactive"),
    "engine.py4j_calls": ("count", "query_p50_ms, interactive"),
    "engine.driver_ms": ("ms", "query_p50_ms, interactive"),
    "spark.jobs": ("count", "query_p50_ms, interactive"),
    "spark.stages": ("count", "query_p50_ms, interactive"),
    "spark.tasks": ("count", "query_p50_ms, interactive"),
    "spark.exec_ms": ("ms", "query_p50_ms, interactive"),
    "spark.executor_run_ms": ("ms", "query_p50_ms, interactive"),
    "spark.executor_cpu_ms": ("ms", "query_p50_ms, interactive"),
    "spark.shuffle_write_bytes": ("B", "query_p50_ms, interactive"),
    "spark.input_bytes": ("B", "query_p50_ms, interactive"),
    "spark.failed_tasks": ("count", "failed_frac, both"),
    "spark.spill_bytes": ("B", "none: 0 means no stage spilled"),
    "engine.head_query_ms": ("ms", "query_p50_ms, interactive"),
    "engine.tail_query_ms": ("ms", "query_p50_ms, interactive"),
    "trace.query_p50_ms": ("ms", "none: minus query_p50_ms, the overhead"),
    "textkit.tokenize_docs_per_s": ("1/s", "setup_s, ingest"),
    "indexer.build_s": ("s", "build_docs_per_s (traced ingest only)"),
    "indexer.postings_per_s": ("1/s", "build_docs_per_s (traced ingest only)"),
    "indexer.bytes_out": ("B", "build_docs_per_s (traced ingest only)"),
    "incremental.ingest_batch_s": ("s", "setup_s, ingest"),
    "incremental.docs_added": ("count", "setup_s, ingest"),
    "engine.check_refresh_ms": ("ms", "queries_per_s, ingest"),
    "engine.fresh_query_ms": ("ms", "queries_per_s, ingest"),
    "compaction.compact_s": ("s", "none (traced runs only)"),
    "compaction.blocks_bytes": ("B", "none (traced runs only)"),
    "compaction.flat_bytes": ("B", "none (traced runs only)"),
    "index.bytes_per_text_byte": ("ratio", "none: an exact size count"),
    "wand.query_ms": ("ms", "none (traced runs only)"),
    **{f"entry_queries.{op}_s": ("s", "ops_sweep_s (traced ingest only)")
       for op in ENTRY_OPS},
    **{f"entry_queries.{op}.{key}": (unit, "ops_sweep_s (traced ingest only)")
       for op in ENTRY_OPS for key, unit in ENTRY_OP_COUNTS.items()},
    **{f"{layer}.self_s": ("s", "setup_s and queries_per_s")
       for layer in LAYERS},
}


def _read_loop(client: Client, engine, seq, seconds: float) -> None:
    deadline = time.time() + seconds
    while len(client.reads) < MIN_READS or time.time() < deadline:
        kind, q = next(seq)
        client.read(engine, "engine", kind, q)


def interactive(client: Client, root: Path, seed: int, seconds: float):
    """Single queries over the prebuilt 10k-page fixture index."""
    from probe_spark.engine import SearchEngine
    from probe_spark.oracle import search as oracle_search

    d = cache.ensure(root, client.work)
    seq = inputs.query_sequence(seed, SEQUENCE)
    t0 = time.perf_counter()
    engine = SearchEngine(client.spark, str(d / "index"))
    # a serving process has its head hot: run every head query once, so
    # each head read is warm however far a run gets, which also pays the
    # JVM's warm-up
    for q in inputs.HEAD:
        engine.search_local(q, k=K)
    setup_s = client.session_s + time.perf_counter() - t0

    seq = iter(seq)
    t0 = time.perf_counter()
    _read_loop(client, engine, seq, seconds)
    phase_s = time.perf_counter() - t0
    memory = client.memory()

    ms = client.read_ms()
    tail_ms, tail_pct = stats.tail(ms)
    named = {
        "query_p50_ms": (stats.median(ms), "ms"),
        "query_tail_ms": (tail_ms, "ms"),
        "query_tail_percentile": (tail_pct, "%"),
        "reads": (len(ms), "count"),
    }

    corpus, want = cache.load_oracle(d)
    for r in client.reads:
        if r["query"] not in want:
            want[r["query"]] = oracle_search(corpus, r["query"], k=K)
        client.check(r, want[r["query"]])
    return setup_s, phase_s, memory, named


def _pages_frame(spark, ids):
    from probe_spark.fixtures import make_page

    rows = [(p.url, p.text, p.lang) for p in map(make_page, ids)]
    return spark.createDataFrame(rows, "url string, text string, lang string")


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _entry_queries(client: Client, seed: int) -> None:
    """Each ENTRY_OPS operator collected twice over seeded tables; the
    second, warm pass is the one reported.  Both are checked against the
    operator's oracle_sql() in DuckDB, compared the way
    scripts/check_entry.py compares them."""
    import duckdb
    import numpy as np
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from scripts import gen_bench_fixture
    from scripts.check_entry import norm, values_equal

    d = client.work / "entry-tables"
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir()
    rng = np.random.default_rng(seed)
    con = duckdb.connect()
    for table, rows in ENTRY_ROWS.items():
        gen = getattr(gen_bench_fixture, f"gen_{table}")
        pq.write_table(gen(rows, rng), d / f"{table}.parquet")
        con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{d / table}.parquet'")
    ops, sql = entry.queries(), entry.oracle_sql()

    def collect(op):
        return op(client.spark, str(d)).toPandas()

    for name in ENTRY_OPS:
        want = norm(con.sql(sql[name]).df())
        for _ in range(2):
            got, seconds = client.call(
                f"entry_queries.{name}", collect, ops[name])
            if got is not None and not values_equal(norm(got), want):
                print(f"WRONG rows from {name}", file=sys.stderr)
                client.failed += 1
        client.entry_ops[name] = (client.last_op, seconds)
    con.close()


def ingest(client: Client, root: Path, seed: int, seconds: float):
    """Micro-batch ingest into a copy of the base index, then reads; when
    traced also a fresh build, compaction, WAND and entry_queries.  A
    fixed plan: ``seconds`` does not change it."""
    from probe_spark import textkit
    from probe_spark.compaction import compact_index
    from probe_spark.engine import SearchEngine
    from probe_spark.fixtures import make_page
    from probe_spark.indexer import build_index
    from probe_spark.oracle import CorpusIndex, Doc
    from probe_spark.oracle import search as oracle_search
    from probe_spark.streaming.incremental import ingest_batch
    from probe_spark.wand import WandEngine

    spark, layer = client.spark, client.layer
    d = cache.ensure(root, client.work)
    ix = client.work / "ingest-index"
    shutil.rmtree(ix, ignore_errors=True)
    probes = iter(inputs.HEAD)
    ids = inputs.ingest_range(seed, cache.BASE_DOCS, BATCH_DOCS)
    frame = _pages_frame(spark, ids)

    t0 = time.perf_counter()
    shutil.copytree(d / "ingest-base", ix)
    engine = SearchEngine(spark, str(ix))
    engine.search_local("firewall", k=K)
    added, batch_s = client.call(
        "incremental.ingest_batch", ingest_batch, spark, frame, str(ix), 1)
    if added is not None and added != len(ids):
        client.failed += 1
    setup_s = client.session_s + time.perf_counter() - t0

    if client.traced:
        _, refresh_s = client.call("engine.check_refresh", engine.check_refresh)
    t0 = time.perf_counter()
    for _ in range(READS_AFTER_COMMIT):
        client.read(engine, "engine", "head", next(probes))
    phase_s = time.perf_counter() - t0
    memory = client.memory()
    index_bytes = _dir_bytes(ix)

    if client.traced:
        built_ix = client.work / "build-index"
        shutil.rmtree(built_ix, ignore_errors=True)
        built, build_s = client.call(
            "indexer.build_index", build_index, spark,
            cache.base_pages(spark), str(built_ix),
            n_buckets=cache.BASE_BUCKETS)
        if built is not None and built["n_docs"] != cache.BASE_DOCS:
            client.failed += 1
        compacted, compact_s = client.call(
            "compaction.compact_index", compact_index, spark, str(ix))
        wand = WandEngine(spark, str(ix))
        for _ in range(WAND_READS):
            client.read(wand, "wand", "head", next(probes))
        _entry_queries(client, seed)

    # the oracle is built from the engine's own doc store after the last
    # commit (stream doc ids are arrival order, as in tests/test_streaming);
    # every read came after it
    rows = spark.read.parquet(str(ix / "pages_indexed")).collect()
    corpus = CorpusIndex.build(
        [Doc(r["doc_id"], r["url"], r["text"], r["lang"]) for r in rows])
    want: dict[str, list] = {}
    for r in client.reads:
        if r["query"] not in want:
            want[r["query"]] = oracle_search(corpus, r["query"], k=K)
        client.check(r, want[r["query"]])

    text_bytes = sum(len(r["text"].encode()) for r in rows)
    named = {
        "ingest_docs_per_s": (added / batch_s, "1/s"),
        "fresh_query_ms": (client.reads[0].get("ms", 0.0), "ms"),
        "query_p50_ms": (stats.median(client.read_ms()), "ms"),
        "index_bytes_per_text_byte": (index_bytes / text_bytes, "B/B"),
    }
    layer.update({
        "incremental.ingest_batch_s": batch_s,
        "incremental.docs_added": float(added),
        "engine.fresh_query_ms": named["fresh_query_ms"][0],
        "index.bytes_per_text_byte": named["index_bytes_per_text_byte"][0],
    })
    if client.traced:
        named["build_docs_per_s"] = (cache.BASE_DOCS / build_s, "1/s")
        named["compact_s"] = (compact_s, "s")
        layer.update({
            "indexer.build_s": build_s,
            "indexer.postings_per_s": built["n_postings"] / build_s,
            "indexer.bytes_out": float(built["bytes_out"]),
            "engine.check_refresh_ms": refresh_s * 1000,
            "compaction.compact_s": compact_s,
            "compaction.blocks_bytes": float(compacted["blocks_bytes"]),
            "compaction.flat_bytes": float(compacted["flat_bytes"]),
            "wand.query_ms": stats.median(client.read_ms("wand")),
        })
        sample = [make_page(i).text for i in range(TOKENIZE_SAMPLE)]
        with client.tracer.span("textkit.tokenize"):
            t = time.perf_counter()
            for text in sample:
                textkit.tokenize(text)
            layer["textkit.tokenize_docs_per_s"] = (
                TOKENIZE_SAMPLE / (time.perf_counter() - t))
    return setup_s, phase_s, memory, named


WORKLOADS = {"interactive": interactive, "ingest": ingest}
